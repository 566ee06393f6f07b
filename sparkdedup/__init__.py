"""sparkdedup — a from-scratch PySpark-native near-duplicate detection engine.

Re-expresses the sketch toolkit of apache/datasketches-go (reference at
/root/reference, studied read-only) as vectorized DataFrame dedup primitives:
murmur3-128 hashing (parity with internal/murmur3.go), theta/KMV signatures,
128-perm MinHash, 64-bit SimHash, LSH banding, Jaccard verification with the
reference's bound semantics (theta/jaccard_similarity.go), iterative
connected components, and suffix/substring containment — all Spark-first.
"""

from sparkdedup import zipcache
from sparkdedup.config import DedupConfig

zipcache.install()  # a no-op outside a pyspark worker

__all__ = ["DedupConfig"]
__version__ = "0.1.0"

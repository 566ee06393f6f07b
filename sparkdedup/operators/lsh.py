"""LSH banding -> candidate pairs, with mega-bucket skew handling.

Banding is a posexplode; a bucket is a run of equal (band, band_hash). A
bucket of 2 to `bucket_cap` members pairs all its members. Boilerplate
mega-buckets would blow up to O(|bucket|^2) pairs (SURVEY.md §4), so a
bucket above the cap pairs each member with its `neighbor_window`
successors in (simhash, file_id) order (near-duplicates sort adjacently:
close simhashes share high bits): O(|bucket| * w) pairs.

candidate_pairs computes both in one lazy plan, with no bucket-size
table, probe or checkpoint. One range exchange on (band, band_hash,
simhash, file_id) lays the total order out over partitions; a kernel walks
each sorted partition's runs. A run inside a partition is a whole bucket
and emits its pairs there. The first and last run of a partition may
continue in the neighbouring partitions, so they leave as fragments for
one hash exchange on (band, band_hash), where each bucket's fragments are
stitched in partition order (range partition ids increase with the key).
No task ever holds more than one range partition, and a bucket's stitch
rows are bounded by the partitions it spans x max(cap, 2w): the windowed
pairs of a fragment's interior are emitted where it lies.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from sparkdedup.config import DedupConfig
from sparkdedup.functions.segments import ranges, seg_ids, within

# phase-1 rows: a pair (src, dst; band null) or a fragment member (band,
# band_hash, range partition pid, position in the fragment, fragment
# length, file_id in src; dst null)
_TAGGED = pa.schema([
    ("band", pa.int32()), ("band_hash", pa.int64()), ("pid", pa.int32()),
    ("pos", pa.int64()), ("flen", pa.int64()), ("src", pa.int64()),
    ("dst", pa.int64())])


def band_table(signatures: DataFrame) -> DataFrame:
    """signatures -> (file_id, band, band_hash, simhash)."""
    return signatures.select(
        "file_id", "simhash",
        F.posexplode("bands").alias("band", "band_hash"),
    )


def _runs(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, sizes) of the runs of equal keys in sorted arrays."""
    n = len(keys[0])
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(new)
    return starts, np.diff(np.append(starts, n))


def _pair_index(later: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(i, j): every row i with each of the later[i] rows after it."""
    i = np.repeat(np.arange(len(later)), later)
    return i, ranges(np.arange(1, len(later) + 1), later)


def _pair_batch(fid: np.ndarray, i: np.ndarray,
                j: np.ndarray) -> pa.RecordBatch:
    """(src, dst) = (smaller, larger) file id of each pair, self pairs
    dropped."""
    a, b = fid[i], fid[j]
    keep = a != b
    return pa.RecordBatch.from_arrays(
        [pa.array(np.minimum(a, b)[keep]), pa.array(np.maximum(a, b)[keep])],
        names=["src", "dst"])


def _walk_runs(batches, cap: int, w: int):
    """Phase 1 over one range partition sorted by (band, band_hash,
    simhash, file_id): an inner run is a whole bucket and emits its pairs
    (all pairs up to `cap` members, else each member with its w
    successors); the first and last run leave as fragment rows, all
    members of a fragment of at most `cap`, else its first and last w
    members, the fragment's own window pairs emitted here."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    band, bh, fid = (t.column(c).to_numpy()
                     for c in ("band", "band_hash", "file_id"))
    _, sizes = _runs(band, bh)
    run, pos = seg_ids(sizes), within(sizes)
    size = sizes[run]
    edge = np.zeros(len(sizes), dtype=bool)
    edge[[0, -1]] = True
    frag = edge[run]
    rest = size - 1 - pos
    later = np.where(size > cap, np.minimum(rest, w),
                     np.where(frag, 0, rest))
    pairs = _pair_batch(fid, *_pair_index(later))
    if n := pairs.num_rows:
        yield pa.RecordBatch.from_arrays(
            [pa.nulls(n, t) for t in _TAGGED.types[:5]]
            + pairs.columns, schema=_TAGGED)
    keep = frag & ((size <= cap) | (pos < w) | (pos >= size - w))
    m = int(keep.sum())
    yield pa.RecordBatch.from_arrays(
        [pa.array(band[keep]), pa.array(bh[keep]),
         pa.array(np.full(m, TaskContext.get().partitionId(), np.int32)),
         pa.array(pos[keep]), pa.array(size[keep]), pa.array(fid[keep]),
         pa.nulls(m, pa.int64())], schema=_TAGGED)


def _stitch(batches, cap: int, w: int):
    """Phase 2: pair rows pass through; each bucket's fragments, in
    partition-id order, give every carried member its rank in the bucket
    (earlier fragments' lengths + position). A bucket of at most `cap`
    members (all carried) emits all pairs, a larger one the pairs of
    carried members at most w ranks apart: the pairs across fragment
    seams."""
    frags = []
    for b in batches:
        is_pair = pc.is_valid(b.column("dst"))
        pairs = b.filter(is_pair).select(["src", "dst"])
        if pairs.num_rows:
            yield pairs
        if pairs.num_rows < b.num_rows:
            frags.append(b.filter(pc.invert(is_pair)))
    if not frags:
        return
    t = pa.Table.from_batches(frags)
    band, bh, pid, pos, flen, fid = (t.column(c).to_numpy() for c in (
        "band", "band_hash", "pid", "pos", "flen", "src"))
    order = np.lexsort((pos, pid, bh, band))
    band, bh, pid, pos, flen, fid = (
        x[order] for x in (band, bh, pid, pos, flen, fid))
    bstarts, bsizes = _runs(band, bh)
    fstarts, fsizes = _runs(band, bh, pid)
    flens = flen[fstarts]
    first = np.searchsorted(fstarts, bstarts)  # each bucket's 1st fragment
    fbucket = seg_ids(np.diff(np.append(first, len(fstarts))))
    before = np.cumsum(flens) - flens
    offset = before - before[first][fbucket]
    rank = offset[seg_ids(fsizes)] + pos
    big = (np.add.reduceat(flens, first) > cap)[seg_ids(bsizes)]
    rest = np.repeat(bstarts + bsizes, bsizes) - 1 - np.arange(len(fid))
    i, j = _pair_index(np.where(big, np.minimum(rest, w), rest))
    ok = ~big[i] | (rank[j] - rank[i] <= w)
    yield _pair_batch(fid, i[ok], j[ok])


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All LSH candidate pairs (src < dst), mega-buckets capped.

    Returns (src, dst) distinct, as a lazy plan: calling it runs no job.
    The range exchange samples its input in a job of its own and then
    reads it again, so `signatures` should be materialized (cached or
    checkpointed); otherwise whatever computes it runs twice.
    """
    stitch = partial(_stitch, cap=cfg.bucket_cap, w=cfg.neighbor_window)
    # fragment rows (dst null) hash on their bucket, pair rows on dst
    return (tagged_runs(signatures, cfg)
            .repartition("band", "band_hash", "dst")
            .mapInArrow(stitch, "src long, dst long")
            .distinct())


def tagged_runs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Phase 1 of candidate_pairs: the range exchange and the run walk
    (_walk_runs), rows as in _TAGGED."""
    keys = ["band", "band_hash", "simhash", "file_id"]
    walk = partial(_walk_runs, cap=cfg.bucket_cap, w=cfg.neighbor_window)
    return (band_table(signatures)
            .repartitionByRange(*keys).sortWithinPartitions(*keys)
            .select("band", "band_hash", "file_id")
            .mapInArrow(walk, from_arrow_schema(_TAGGED)))


def incremental_candidate_pairs(corpus_sigs: DataFrame,
                                delta_sigs: DataFrame) -> DataFrame:
    """LSH candidate pairs INCIDENT TO A DELTA batch against a standing
    corpus — the 100-TB ingest shape (reference parity: theta
    set-operation semantics applied to dedup; datasketches-go's
    incremental union use case, theta/union_impl.go:26-41).

    A deduped corpus re-checks only what changed: a new crawl batch or
    repo push must be compared against the corpus WITHOUT re-running
    all-pairs LSH over 10^12 files. Two asymmetries make this cheap and
    this operator encodes both:

      * the corpus band table (the 10^12-row side) is NEVER shuffled:
        the delta band table is tiny by assumption, so the band join
        broadcasts it (plan-guarded in test_plans.py) and the corpus
        side streams map-side through the join — at cluster scale the
        corpus signatures are read from the persisted signature
        checkpoint (pipeline.py materializes exactly this table), not
        recomputed;
      * corpus-corpus pairs are excluded BY CONSTRUCTION (the corpus is
        already deduped), so the output is only (corpus x delta) and
        (delta x delta) pairs — the right side of every emitted pair is
        a delta file.

    Skew note: a boilerplate mega-bucket of f_c corpus rows meets only
    f_d delta rows here (f_c * f_d join rows, f_d small) — the quadratic
    f^2 blowup candidate_pairs() guards against cannot occur unless the
    DELTA itself is boilerplate-heavy; a delta large enough to need the
    mega-bucket machinery should run the full candidate_pairs() instead.

    Returns (src, dst) distinct with src < dst, at least one side delta.
    """
    all_bands = band_table(
        corpus_sigs.select("file_id", "simhash", "bands").unionByName(
            delta_sigs.select("file_id", "simhash", "bands"))
    ).select("band", "band_hash", F.col("file_id").alias("src"))
    delta_bands = band_table(delta_sigs).select(
        "band", "band_hash", F.col("file_id").alias("dst"))
    return (
        all_bands.join(F.broadcast(delta_bands), ["band", "band_hash"])
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"))
        .distinct())

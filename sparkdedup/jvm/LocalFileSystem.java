package sparkdedup.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, except that file and directory
 * modes are set through java.nio. Without libhadoop, RawLocalFileSystem
 * forks a `chmod` for every file and directory it creates: each one a
 * vfork of the whole driver JVM, about 60 per pipeline run with parquet
 * checkpoints. Built and installed by sparkdedup.session.build_session.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  // PosixFilePermission for mode bit i, lowest bit (others execute) first
  private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ};

  public LocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        // java.nio cannot set the sticky bit; keep Hadoop's chmod
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

package etl_api_bigquery_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, with setPermission done in-process.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission execs chmod, and every
 * mkdirs and create with a permission calls it. Raw sets the same rwx bits
 * through java.nio instead; a mode with the sticky bit still takes the stock
 * call. It extends LocalFileSystem, so FileSystem.getLocal still casts and
 * the .crc sidecars are still written.
 *
 * The file: filesystem it replaces is Hive's ProxyLocalFileSystem, which
 * Spark's bundled hive-exec registers for the scheme. Its one change to
 * LocalFileSystem, a rename that does not replace an existing file, is kept.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")    // isFile: the call Hive's rename makes
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's order is owner rwx, group rwx, others rwx:
    // element i is mode bit 0400 >> i
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

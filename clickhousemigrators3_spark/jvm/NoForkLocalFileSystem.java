package clickhousemigrators3_spark.jvm;

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
 * Hadoop's checksummed {@code file://} file system, except that file modes
 * are set in the JVM. Without Hadoop's native library,
 * {@code RawLocalFileSystem.setPermission} forks {@code chmod} for every
 * file and directory a write creates; here the nine rwx bits go through
 * {@code Files.setPosixFilePermissions} instead. Modes with bits above
 * {@code 0777} (the sticky bit, which NIO cannot set) still take Hadoop's
 * own path, so every path ends with the mode Hadoop would give it.
 *
 * <p>{@code rename} keeps the rule of Hive's {@code ProxyLocalFileSystem},
 * the {@code file://} class Spark picks without this one: renaming onto an
 * existing file returns {@code false}.
 *
 * <p>Build: {@code javac --release 8 -cp hadoop-client-api-*.jar}.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation") // isFile, as in Hive's class
  public boolean rename(Path src, Path dst) throws IOException {
    return isFile(dst) ? false : super.rename(src, dst);
  }

  /** The raw (checksum-less) layer: only {@code setPermission} changes. */
  public static class Raw extends RawLocalFileSystem {

    // PosixFilePermission's order is owner rwx, group rwx, others rwx:
    // values()[i] is mode bit 1 << (8 - i)
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
        if ((mode & (1 << (8 - i))) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

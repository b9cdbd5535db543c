package poc_juma_etl_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local FileSystem ({@code .crc} sidecars written and
 * verified on read) whose chmod is a syscall. Without libhadoop,
 * {@code RawLocalFileSystem.setPermission} forks a {@code chmod} process for
 * every file, checksum file and directory a write creates; here it calls
 * {@code Files.setPosixFilePermissions}, the same {@code chmod(2)} that
 * {@code NativeIO.POSIX.chmod} makes when libhadoop is loaded.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * The rule of Hive's {@code ProxyLocalFileSystem}, which {@code file:}
   * resolves to on Spark's stock classpath: a rename onto an existing file
   * fails instead of replacing it.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // no PosixFilePermission for it
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }
  }
}

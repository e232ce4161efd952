package twitter_event_stream_spark.jvm;

import java.io.IOException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system whose permission change is a
 * {@code chmod(2)} through java.nio rather than a forked {@code chmod}
 * process (the argument is in the docstring of {@code session.py}).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  private static final boolean POSIX =
      FileSystems.getDefault().supportedFileAttributeViews().contains("posix");

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** Hadoop's raw local file system with only {@code setPermission} replaced. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (!POSIX || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists the nine mode bits from 0400 down to 0001.
      short mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }
  }
}

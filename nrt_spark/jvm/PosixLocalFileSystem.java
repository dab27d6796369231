package nrt_spark.jvm;

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
 * Hadoop's checksummed local filesystem, except that file and directory
 * modes are set with one chmod(2) in the JVM. Without libhadoop.so,
 * RawLocalFileSystem.setPermission forks a chmod process for every
 * directory it creates and every file it opens for writing.
 *
 * rename keeps the guard of Hive's ProxyLocalFileSystem, which the
 * FileSystem service files otherwise make the file: implementation:
 * an existing destination file is not replaced.
 */
public class PosixLocalFileSystem extends LocalFileSystem {

  public PosixLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")   // isFile, as Hive calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, i.e. mode
    // bits 0400 down to 0001
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);   // setuid/setgid/sticky
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);   // not a POSIX filesystem
      }
    }
  }
}

package kg.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local filesystem whose permission calls set the mode
 * in-process.  Without the native hadoop library, RawLocalFileSystem's
 * setPermission forks a chmod process, and Hadoop calls it for every file
 * and directory it creates.  With the native library, or for a mode with a
 * bit outside 0777 (sticky), Hadoop's own setPermission runs unchanged.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {
  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** The raw (unchecksummed) filesystem under the checksums. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ ... OTHERS_EXECUTE: the mode's nine bits, high to low
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

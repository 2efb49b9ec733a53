package kafkastreamaggregator.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;
import org.apache.hadoop.util.Shell;

/**
 * Hadoop's raw local file system without its two per-call subprocesses.
 *
 * <p>Without the native libhadoop, {@link RawLocalFileSystem} runs {@code chmod}
 * for every {@code setPermission} (so for every {@code create} and
 * {@code mkdirs}) and {@code readlink} for every {@code getFileLinkStatus}.
 * Here both use java.nio. Every other call is the parent's, and so is every
 * case java.nio would not answer the same way: native libhadoop present,
 * Windows, a mode beyond 0777 (sticky bit), a path that is a symlink.
 */
public class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  // OWNER_READ ... OTHERS_EXECUTE: bit 0400 down to bit 0001
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if (NativeIO.isAvailable() || Shell.WINDOWS || (mode & ~0777) != 0) {
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

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    // what the parent returns for a file, a directory or a missing path
    return getFileStatus(f);
  }
}

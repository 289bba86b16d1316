package emission_project_spark;

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
 * Hadoop's checksummed local filesystem ({@code .crc} sidecars kept) whose
 * {@code setPermission} runs in-process. Without libhadoop,
 * {@code RawLocalFileSystem.setPermission} forks a {@code chmod} per file and
 * directory a write creates. Modes outside 0777 (sticky, setuid) still take
 * Hadoop's own path, so every mode ends with the same bits.
 */
public class PosixLocalFileSystem extends LocalFileSystem {
  public PosixLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // declared owner rwx, group rwx, others rwx: ordinal i is bit 0400 >> i
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : BITS) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

package logicash_etl_spark.jvm;

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
 * Hadoop's checksummed local file system ({@code .crc} sidecars written
 * and verified as usual) whose chmod is a syscall. Without native Hadoop IO,
 * {@link RawLocalFileSystem#setPermission} forks a {@code chmod} process
 * for every file, sidecar and directory it creates; a day-partitioned
 * write then spends most of its time starting processes.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    // PosixFilePermission's order is rwxrwxrwx, so value k is mode bit 8 - k.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) { // the sticky bit: Hadoop's own chmod
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int k = 0; k < BITS.length; k++) {
        if ((mode & (1 << (8 - k))) != 0) {
          perms.add(BITS[k]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}

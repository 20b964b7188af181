package sqlitecdc;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem with permissions and link status done through
 * java.nio. Without libhadoop.so, RawLocalFileSystem runs a {@code chmod}
 * child process for every file it creates and every directory it makes,
 * and a {@code readlink} for every {@code FileContext} rename. These classes
 * give the same modes, checksums and statuses without starting a process.
 *
 * <p>{@code fs.file.impl} = {@code sqlitecdc.NioLocalFs$Local},
 * {@code fs.AbstractFileSystem.file.impl} = {@code sqlitecdc.NioLocalFs$Context}.
 */
public final class NioLocalFs {
  private NioLocalFs() {}

  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ,
  };

  /** The raw (unchecksummed) filesystem. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {  // not expressible in java.nio
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // What the parent returns when its readlink finds no link target.
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** {@code fs.file.impl}: the checksummed FileSystem over {@link Raw}. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }
  }

  /** {@link Raw} as an AbstractFileSystem; mirrors Hadoop's RawLocalFs. */
  static class RawContext extends DelegateToFileSystem {
    RawContext(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: FileContext's checksummed view. */
  public static class Context extends ChecksumFs {
    public Context(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawContext(FsConstants.LOCAL_FS_URI, conf));  // as LocalFs
    }
  }
}

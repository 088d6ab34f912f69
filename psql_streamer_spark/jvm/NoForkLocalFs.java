package psqlstreamer;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.io.OutputStream;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.LinkOption;
import java.nio.file.NoSuchFileException;
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
 * Hadoop's local file system, minus its process spawns and its in-place
 * truncates.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem} runs
 * {@code chmod} for every file and directory it creates and {@code readlink}
 * for every link probe (each rename through {@code FileContext}). These
 * classes apply the same modes and answer the same probes through
 * {@code java.nio.file} instead. Checksums are untouched: {@link Local} is a
 * {@link LocalFileSystem} and {@link Fs} a {@link ChecksumFs}, as stock.
 *
 * <p>An overwrite replaces the file instead of truncating it: stock opens
 * the old file with {@code O_TRUNC}, and on ext4 truncating a recently
 * written non-empty file blocks for 45-90 ms (p50 about 81 ms on a 4-CPU VM,
 * ext4 mounted with {@code discard}), while unlinking it and creating it
 * again takes about 0.13 ms. Every append into an existing parquet
 * directory rewrites its {@code _SUCCESS} marker and that marker's
 * {@code .crc}, so the stall sat in each job commit of a partitioned sink.
 * See {@link Raw#createOutputStreamWithMode} for the rules it keeps.
 */
public final class NoForkLocalFs {
  private NoForkLocalFs() {}

  /** The raw layer: modes, link probes and overwrites through NIO. */
  public static class Raw extends RawLocalFileSystem {
    /**
     * Opens {@code f} for writing; an overwrite of a regular file deletes it
     * first, so the stream writes a new file, as {@code create(overwrite)}
     * does on HDFS. Every create reaches this method: {@code create},
     * {@code createNonRecursive}, both streams of a checksummed file (data
     * and {@code .crc}) and the {@code FileContext} layer.
     *
     * <ul>
     *   <li>A symlink is not replaced: the stream writes its target and the
     *       link stays, as stock.
     *   <li>{@code overwrite=false} on an existing file still fails with
     *       {@code FileAlreadyExistsException}; {@code create} checks that
     *       before it calls this method.
     *   <li>When the delete fails (say, the directory is read-only but the
     *       file is writable) the stream truncates the file in place, as
     *       stock.
     *   <li>A replaced file gets the mode of a newly created file, not the
     *       old file's mode, which is HDFS's rule too (stock applies that
     *       mode on an overwrite as well).
     * </ul>
     */
    @Override
    protected OutputStream createOutputStreamWithMode(
        Path f, boolean append, FsPermission permission) throws IOException {
      if (!append) {
        java.nio.file.Path file = pathToFile(f).toPath();
        if (Files.isRegularFile(file, LinkOption.NOFOLLOW_LINKS)) {
          try {
            Files.delete(file);
          } catch (IOException e) {
            // not replaceable: truncate it in place below, as stock does
          }
        }
      }
      return super.createOutputStreamWithMode(f, append, permission);
    }

    /**
     * Applies a plain {@code rwxrwxrwx} mode with {@code Files.setPosixFilePermissions}.
     * A mode with sticky or set-id bits, or a file system without POSIX
     * attributes, goes to the stock {@code chmod}.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      // declaration order is OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException(p + ": no such file or directory");
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }

    /**
     * For anything but a symlink the stock answer is {@code getFileStatus},
     * reached after a {@code readlink} spawn; a real symlink still goes to it.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** {@code fs.file.impl}: the checksummed {@code FileSystem} over {@link Raw}. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }

    /**
     * Hive's {@code ProxyLocalFileSystem}, which this class replaces as the
     * {@code file} scheme, refuses to rename onto an existing file; stock
     * {@code rename} overwrites it.
     */
    @Override
    @SuppressWarnings("deprecation")
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: the checksummed {@code FileContext} layer. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Stock {@code RawLocalFs}, delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}

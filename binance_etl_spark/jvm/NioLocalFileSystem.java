package binance_etl_spark.jvm;

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
 * Hadoop's local filesystem without child processes. Without libhadoop,
 * stock {@code RawLocalFileSystem} forks {@code chmod} for every
 * permission it sets (each create and mkdir) and {@code readlink} for
 * every link-status check (four per FileContext rename). These classes
 * make the same system calls through java.nio; anything they do not
 * cover (set-id and sticky bits, real symlinks) goes to the stock code.
 */
public final class NioLocalFileSystem {
    // declared owner, group, others, each read, write, execute: the
    // order of the mode bits from 0400 down to 01
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    private NioLocalFileSystem() {}

    /** The raw filesystem both Hadoop APIs sit on. */
    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            short mode = permission.toShort();
            if ((mode & ~0777) != 0) {
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
            // stock returns exactly this once readlink comes back empty,
            // the FileNotFoundException of a missing path included
            if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
                return getFileStatus(f);
            }
            return super.getFileLinkStatus(f);
        }
    }

    /** {@code fs.file.impl}: checksummed, like stock LocalFileSystem. */
    public static class Local extends LocalFileSystem {
        public Local() {
            super(new Raw());
        }
    }

    /** {@code fs.AbstractFileSystem.file.impl}: checksummed, like stock LocalFs. */
    public static class LocalFs extends ChecksumFs {
        public LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
            super(new RawFs(conf));
        }
    }

    /** Stock RawLocalFs over {@link Raw}, with its four overrides. */
    static class RawFs extends DelegateToFileSystem {
        RawFs(Configuration conf) throws IOException, URISyntaxException {
            super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
}

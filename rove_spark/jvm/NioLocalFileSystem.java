package rove_spark.jvm;

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
 * The local (checksummed) file system, setting file modes in-process.
 *
 * Hadoop's local file system sets the mode of every file and directory
 * it creates. Without the native hadoop library it runs {@code chmod}
 * for each one: a process spawned from the JVM, which until it execs
 * is a clone of the whole driver. This class sets the same mode through
 * java.nio instead. Only the sticky bit, which java.nio cannot set,
 * still goes through {@code chmod}.
 *
 * {@link #rename} keeps the FileSystem contract that renaming onto an
 * existing file fails, as hive-exec's ProxyLocalFileSystem (the class
 * the service loader picks for {@code file:} when Hive's jars are on
 * the class path) does; plain java.io renames would replace the file.
 *
 * {@link Fs} is the same file system for {@code FileContext}, which
 * structured-streaming checkpoints write through.
 */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() {
        super(new Raw());
    }

    @Override
    public boolean rename(Path src, Path dst) throws IOException {
        return !isFile(dst) && super.rename(src, dst);
    }

    /** The raw local file system with an in-process chmod. */
    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            short mode = permission.toShort();
            if ((mode & 01000) != 0) {
                super.setPermission(p, permission);
                return;
            }
            // PosixFilePermission runs OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
            Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
            for (PosixFilePermission b : PosixFilePermission.values()) {
                if ((mode & (1 << (8 - b.ordinal()))) != 0) {
                    bits.add(b);
                }
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
        }

        /**
         * The status of a path that is not a symbolic link without
         * spawning {@code readlink}, which Hadoop runs for every path
         * ({@code FileContext} renames ask for it).
         */
        @Override
        public FileStatus getFileLinkStatus(Path f) throws IOException {
            if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
                return getFileStatus(f);
            }
            return super.getFileLinkStatus(f);
        }
    }

    /**
     * Hadoop's {@code LocalFs} ({@code fs.AbstractFileSystem.file.impl})
     * over {@link Raw}: a checksummed file system over a
     * {@code DelegateToFileSystem}.
     */
    public static class Fs extends ChecksumFs {
        public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
            super(new RawFs(conf));
        }
    }

    /** Hadoop's {@code RawLocalFs} over {@link Raw}. */
    static class RawFs extends DelegateToFileSystem {
        RawFs(Configuration conf) throws IOException, URISyntaxException {
            super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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

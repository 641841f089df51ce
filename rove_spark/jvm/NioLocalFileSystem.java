package rove_spark.jvm;

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
    }
}

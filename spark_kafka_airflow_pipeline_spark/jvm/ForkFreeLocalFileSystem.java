package spark_kafka_airflow_pipeline_spark.jvm;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFileAttributeView;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local file system ({@code fs.file.impl}) without the processes that
 * {@link RawLocalFileSystem} forks when libhadoop is absent. Only the raw
 * layer's {@code setPermission} and {@code getFileLinkStatus} change; checksum
 * files and every other call are the stock classes'.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
    public ForkFreeLocalFileSystem() {
        super(new Raw());
    }

    public static class Raw extends RawLocalFileSystem {
        /** Stock forks {@code chmod}. A mode beyond 0777 (the sticky bit) or a
         *  file store without POSIX attributes still does. */
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            java.nio.file.Path file = pathToFile(p).toPath();
            int mode = permission.toShort();
            if ((mode & ~0777) != 0
                    || !Files.getFileStore(file).supportsFileAttributeView(PosixFileAttributeView.class)) {
                super.setPermission(p, permission);
                return;
            }
            Set bits = EnumSet.noneOf(PosixFilePermission.class);
            PosixFilePermission[] all = PosixFilePermission.values();  // OWNER_READ .. OTHERS_EXECUTE
            for (int i = 0; i < 9; i++) {
                if ((mode & (0400 >> i)) != 0) bits.add(all[i]);
            }
            Files.setPosixFilePermissions(file, bits);
        }

        /** Stock forks {@code readlink} on {@code new File(p.toString())} and
         *  returns {@code getFileStatus(p)} when that is no symbolic link. */
        @Override
        public FileStatus getFileLinkStatus(Path p) throws IOException {
            return Files.isSymbolicLink(new File(p.toString()).toPath())
                    ? super.getFileLinkStatus(p) : getFileStatus(p);
        }
    }

    /** {@code fs.AbstractFileSystem.file.impl}: the stock {@code LocalFs} over
     *  {@code RawLocalFs}, whose constructors are package-private, over {@link Raw}. */
    public static class Fs extends ChecksumFs {
        public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
            super(new DelegateToFileSystem(uri, new Raw(), conf, "file", false) {
                public int getUriDefaultPort() { return -1; }
                public FsServerDefaults getServerDefaults() throws IOException {
                    return LocalConfigKeys.getServerDefaults();
                }
                public FsServerDefaults getServerDefaults(Path f) throws IOException {
                    return LocalConfigKeys.getServerDefaults();
                }
                public boolean isValidName(String src) { return true; }
            });
        }
    }
}

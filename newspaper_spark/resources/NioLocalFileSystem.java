package newspaper_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem, with permissions set through java.nio.
 * Without the native Hadoop library, RawLocalFileSystem.setPermission forks
 * a chmod process for every file and directory it creates; this makes the
 * same chmod(2) call in-process. Writes, reads and .crc files are unchanged.
 */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() {
        super(new Raw());
    }

    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            String rwx = permission.toString();
            if (!rwx.matches("([r-][w-][x-]){3}")) {  // e.g. the sticky bit
                super.setPermission(p, permission);
                return;
            }
            Files.setPosixFilePermissions(
                pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
        }
    }
}

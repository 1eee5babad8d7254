package borsa_spark.streaming;

import java.io.DataOutputStream;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.io.OutputStream;
import java.nio.file.DirectoryStream;
import java.nio.file.FileVisitResult;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.SimpleFileVisitor;
import java.nio.file.StandardCopyOption;
import java.nio.file.attribute.BasicFileAttributes;
import java.util.ArrayList;
import java.util.List;
import java.util.UUID;
import java.util.zip.CRC32;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileAlreadyExistsException;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.PathFilter;
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager;
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager;

/**
 * Checkpoint files on {@code file:} paths through {@code java.nio}, so that
 * no write, rename or listing forks a process. Without native Hadoop, the
 * local Hadoop file system runs {@code chmod} for every file it creates and
 * {@code readlink} for every rename check. Every other scheme goes to
 * Spark's default {@link FileContextBasedCheckpointFileManager}.
 *
 * <p>Files are laid out as Hadoop's {@code LocalFileSystem} lays them out:
 * each file {@code name} has a CRC32 companion {@code .name.crc} (one
 * checksum per 512 bytes), listings hide those companions, and reads go
 * through the local Hadoop file system, which verifies a companion when
 * there is one. A checkpoint written by either manager restarts under the
 * other, and a corrupted metadata file fails its read under both.
 */
public final class LocalCheckpointFileManager implements CheckpointFileManager {
    private static final byte[] CRC_MAGIC = {'c', 'r', 'c', 0};
    private static final int BYTES_PER_CHECKSUM = 512;

    private final Path root;
    private final FileSystem local;
    private final CheckpointFileManager other;

    public LocalCheckpointFileManager(Path path, Configuration conf) throws IOException {
        String scheme = path.toUri().getScheme();
        if (scheme == null) {
            scheme = FileSystem.getDefaultUri(conf).getScheme();
        }
        if ("file".equals(scheme)) {
            local = FileSystem.get(java.net.URI.create("file:///"), conf);
            root = local.makeQualified(path);
            other = null;
        } else {
            local = null;
            root = path;
            other = new FileContextBasedCheckpointFileManager(path, conf);
        }
    }

    private java.nio.file.Path nio(Path path) {
        return java.nio.file.Paths.get(local.makeQualified(path).toUri());
    }

    /** The companion {@code LocalFileSystem} keeps a file's checksums in. */
    private static java.nio.file.Path crcOf(java.nio.file.Path file) {
        return file.resolveSibling("." + file.getFileName() + ".crc");
    }

    private static boolean isCrc(String name) {
        return name.startsWith(".") && name.endsWith(".crc");
    }

    @Override
    public CancellableFSDataOutputStream createAtomic(Path path, boolean overwriteIfPossible) {
        if (other != null) {
            return other.createAtomic(path, overwriteIfPossible);
        }
        java.nio.file.Path target = nio(path);
        java.nio.file.Path temp = target.resolveSibling(
            "." + target.getFileName() + "." + UUID.randomUUID() + ".tmp");
        return io(() -> new AtomicOutputStream(
            new CrcOutputStream(temp), target, temp, overwriteIfPossible));
    }

    @Override
    public FSDataInputStream open(Path path) {
        return other != null ? other.open(path) : io(() -> local.open(path));
    }

    @Override
    public FileStatus[] list(Path path, PathFilter filter) {
        return other != null ? other.list(path, filter) : io(() -> listLocal(path, filter));
    }

    private FileStatus[] listLocal(Path path, PathFilter filter) throws IOException {
        java.nio.file.Path dir = nio(path);
        if (!Files.exists(dir)) {
            throw new FileNotFoundException(path + " does not exist");
        }
        Path parent = local.makeQualified(path);
        List<FileStatus> out = new ArrayList<>();
        try (DirectoryStream<java.nio.file.Path> entries = Files.newDirectoryStream(dir)) {
            for (java.nio.file.Path entry : entries) {
                String name = entry.getFileName().toString();
                Path child = new Path(parent, name);
                if (isCrc(name) || !filter.accept(child)) {
                    continue;
                }
                BasicFileAttributes a;
                try {
                    a = Files.readAttributes(entry, BasicFileAttributes.class);
                } catch (NoSuchFileException e) {
                    continue;  // deleted since it was listed
                }
                out.add(new FileStatus(a.size(), a.isDirectory(), 1,
                    local.getDefaultBlockSize(child), a.lastModifiedTime().toMillis(), child));
            }
        }
        return out.toArray(new FileStatus[0]);
    }

    @Override
    public void mkdirs(Path path) {
        if (other != null) {
            other.mkdirs(path);
        } else {
            io(() -> Files.createDirectories(nio(path)));
        }
    }

    @Override
    public boolean exists(Path path) {
        return other != null ? other.exists(path) : Files.exists(nio(path));
    }

    @Override
    public void delete(Path path) {
        if (other != null) {
            other.delete(path);
        } else {
            io(() -> deleteLocal(nio(path)));
        }
    }

    private static Void deleteLocal(java.nio.file.Path p) throws IOException {
        if (!Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
            Files.deleteIfExists(p);
            Files.deleteIfExists(crcOf(p));
            return null;
        }
        Files.walkFileTree(p, new SimpleFileVisitor<java.nio.file.Path>() {
            @Override
            public FileVisitResult visitFile(java.nio.file.Path f, BasicFileAttributes a)
                    throws IOException {
                Files.deleteIfExists(f);
                return FileVisitResult.CONTINUE;
            }

            @Override
            public FileVisitResult postVisitDirectory(java.nio.file.Path d, IOException e)
                    throws IOException {
                Files.deleteIfExists(d);
                return FileVisitResult.CONTINUE;
            }
        });
        return null;
    }

    @Override
    public boolean isLocal() {
        return other == null || other.isLocal();
    }

    @Override
    public Path createCheckpointDirectory() {
        if (other != null) {
            return other.createCheckpointDirectory();
        }
        mkdirs(root);
        return root;
    }

    private interface IoCall<T> {
        T call() throws IOException;
    }

    /**
     * Runs {@code call} and rethrows its {@link IOException} unwrapped: the
     * interface is a Scala trait that declares no checked exceptions, and
     * Spark catches {@code FileNotFoundException} and
     * {@code FileAlreadyExistsException} by type.
     */
    private static <T> T io(IoCall<T> call) {
        try {
            return call.call();
        } catch (IOException e) {
            throw LocalCheckpointFileManager.<RuntimeException>sneaky(e);
        }
    }

    @SuppressWarnings("unchecked")
    private static <E extends Throwable> E sneaky(Throwable e) throws E {
        throw (E) e;
    }

    /**
     * Writes a file and, next to it, its checksums in {@code LocalFileSystem}'s
     * format: the magic {@code crc\0}, the bytes per checksum, then one
     * big-endian CRC32 per chunk, the last chunk possibly short.
     */
    private static final class CrcOutputStream extends OutputStream {
        private final OutputStream data;
        private final DataOutputStream sums;
        private final CRC32 crc = new CRC32();
        private int inChunk;

        CrcOutputStream(java.nio.file.Path file) throws IOException {
            data = new java.io.BufferedOutputStream(Files.newOutputStream(file));
            sums = new DataOutputStream(new java.io.BufferedOutputStream(
                Files.newOutputStream(crcOf(file))));
            sums.write(CRC_MAGIC);
            sums.writeInt(BYTES_PER_CHECKSUM);
        }

        @Override
        public void write(int b) throws IOException {
            data.write(b);
            crc.update(b);
            if (++inChunk == BYTES_PER_CHECKSUM) {
                endChunk();
            }
        }

        @Override
        public void write(byte[] b, int off, int len) throws IOException {
            data.write(b, off, len);
            while (len > 0) {
                int n = Math.min(len, BYTES_PER_CHECKSUM - inChunk);
                crc.update(b, off, n);
                off += n;
                len -= n;
                inChunk += n;
                if (inChunk == BYTES_PER_CHECKSUM) {
                    endChunk();
                }
            }
        }

        private void endChunk() throws IOException {
            sums.writeInt((int) crc.getValue());
            crc.reset();
            inChunk = 0;
        }

        @Override
        public void flush() throws IOException {
            data.flush();
        }

        @Override
        public void close() throws IOException {
            try {
                if (inChunk > 0) {
                    endChunk();
                }
                sums.close();
            } finally {
                data.close();
            }
        }
    }

    /**
     * Writes a temporary file and, on {@link #close}, puts it in place:
     * without overwrite by a hard link, which fails atomically when the
     * target exists; with overwrite by an atomic rename. The checksum
     * companion moves after its file, as in {@code LocalFileSystem}, and an
     * overwrite removes the old companion first, so that a reader never
     * checks the new file against the old checksums. Like Hadoop's local
     * file system, it does not sync to disk.
     */
    private static final class AtomicOutputStream extends CancellableFSDataOutputStream {
        private final java.nio.file.Path target;
        private final java.nio.file.Path temp;
        private final boolean overwrite;
        private boolean done;

        AtomicOutputStream(OutputStream out, java.nio.file.Path target,
                           java.nio.file.Path temp, boolean overwrite) {
            super(out);
            this.target = target;
            this.temp = temp;
            this.overwrite = overwrite;
        }

        @Override
        public synchronized void close() throws IOException {
            if (done) {
                return;
            }
            done = true;
            try {
                underlyingStream().close();
                if (overwrite) {
                    Files.deleteIfExists(crcOf(target));
                    Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE);
                } else {
                    try {
                        Files.createLink(target, temp);
                    } catch (java.nio.file.FileAlreadyExistsException e) {
                        throw new FileAlreadyExistsException(target + " already exists");
                    }
                }
                Files.move(crcOf(temp), crcOf(target), StandardCopyOption.ATOMIC_MOVE);
            } finally {
                Files.deleteIfExists(temp);
                Files.deleteIfExists(crcOf(temp));
            }
        }

        @Override
        public synchronized void cancel() {
            if (done) {
                return;
            }
            done = true;
            try {
                underlyingStream().close();
            } catch (IOException e) {
                // the temporary files go below either way
            }
            try {
                Files.deleteIfExists(temp);
                Files.deleteIfExists(crcOf(temp));
            } catch (IOException e) {
                // a leftover temporary file is hidden and never read
            }
        }
    }
}

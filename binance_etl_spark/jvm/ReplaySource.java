package binance_etl_spark.jvm;

import java.io.IOException;
import java.io.UncheckedIOException;
import java.nio.ByteBuffer;
import java.nio.channels.FileChannel;
import java.nio.charset.StandardCharsets;
import java.nio.file.Paths;
import java.nio.file.StandardOpenOption;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.EnumSet;
import java.util.List;
import java.util.Map;
import java.util.Set;

import com.fasterxml.jackson.core.JsonFactory;
import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.core.JsonToken;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream;
import org.apache.spark.sql.connector.read.streaming.Offset;
import org.apache.spark.sql.connector.read.streaming.ReadLimit;
import org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow;
import org.apache.spark.sql.sources.DataSourceRegister;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The {@code replay} data source: a JSONL frame spool, one
 * {@code {"frame": ..., "arrival_ms": ..., "seq": ...}} object per line,
 * read as {@code frame STRING, arrival_ms BIGINT, seq BIGINT}. Unknown
 * keys are ignored and a missing key reads as null; a line that is not
 * such an object fails the read, and blank lines are skipped.
 *
 * <p>Options: {@code path} (a local file), {@code linesPerPartition}
 * (a new input partition starts every this many lines: 10000 for batch
 * reads, 8192 for streams) and, for streams, {@code maxFramesPerBatch}
 * (default 3).
 *
 * <p>Stream offsets are {@code {"index": n, "pos": p}}: {@code n} frames
 * (lines) precede this point, and {@code p} is the byte offset of line
 * {@code n}. Partitions are byte ranges, so a trigger reads only the
 * bytes past its start offset. A checkpoint's older {@code {"index": n}}
 * form resumes: its position is found by scanning to line {@code n} once.
 * A stream admits only newline-terminated lines, so a spool caught
 * mid-append serves its last line once the line is complete. A batch
 * read covers the whole file.
 *
 * <p>Admission: the first {@code latestOffset} call of a query run
 * returns the log head, and so does every call whose start is still
 * before that catch-up end, so a fresh start or a restart catches up in
 * one batch. Later calls return {@code min(start + maxFramesPerBatch,
 * head)}, and {@code maxFramesPerBatch <= 0} always returns the head. The
 * answer depends only on the start offset, so any number of polls between
 * two batches admits the same frames and every run plans the same batches.
 */
public final class ReplaySource implements TableProvider, DataSourceRegister {
    static final StructType SCHEMA = new StructType()
        .add("frame", DataTypes.StringType)
        .add("arrival_ms", DataTypes.LongType)
        .add("seq", DataTypes.LongType);

    private static final JsonFactory JSON = new JsonFactory();
    private static final int CHUNK = 1 << 16;

    @Override
    public String shortName() {
        return "replay";
    }

    @Override
    public StructType inferSchema(CaseInsensitiveStringMap options) {
        return SCHEMA;
    }

    @Override
    public Table getTable(StructType schema, Transform[] partitioning, Map<String, String> properties) {
        return new ReplayTable();
    }

    static final class ReplayTable implements SupportsRead {
        @Override
        public String name() {
            return "replay";
        }

        @Override
        @SuppressWarnings("deprecation") // Table.columns() derives from it
        public StructType schema() {
            return SCHEMA;
        }

        @Override
        public Set<TableCapability> capabilities() {
            return EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ);
        }

        @Override
        public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
            return () -> new ReplayScan(options);
        }
    }

    static final class ReplayScan implements Scan {
        private final CaseInsensitiveStringMap options;
        private final String path;

        ReplayScan(CaseInsensitiveStringMap options) {
            this.options = options;
            this.path = options.get("path");
            if (path == null) {
                throw new IllegalArgumentException("replay: the 'path' option is required");
            }
        }

        @Override
        public StructType readSchema() {
            return SCHEMA;
        }

        @Override
        public String description() {
            return "replay " + path;
        }

        @Override
        public Batch toBatch() {
            int step = Math.max(1, options.getInt("linesPerPartition", 10000));
            return new Batch() {
                @Override
                public InputPartition[] planInputPartitions() {
                    try (FileChannel ch = open(path)) {
                        return plan(ch, path, new ReplayOffset(0, 0), ch.size(), step);
                    } catch (IOException e) {
                        throw new UncheckedIOException(e);
                    }
                }

                @Override
                public PartitionReaderFactory createReaderFactory() {
                    return new ReaderFactory();
                }
            };
        }

        @Override
        public MicroBatchStream toMicroBatchStream(String checkpointLocation) {
            return new ReplayStream(
                path, options.getInt("maxFramesPerBatch", 3),
                Math.max(1, options.getInt("linesPerPartition", 8192)));
        }
    }

    /** A stream offset: {@code index} lines precede byte {@code pos}. */
    static final class ReplayOffset extends Offset {
        final long index;
        final long pos;

        ReplayOffset(long index, long pos) {
            this.index = index;
            this.pos = pos;
        }

        @Override
        public String json() {
            return "{\"index\":" + index + ",\"pos\":" + pos + "}";
        }
    }

    /** Lines [{@code firstLine}, ...) of {@code path}, as bytes [{@code start}, {@code end}). */
    static final class Range implements InputPartition {
        final String path;
        final long firstLine;
        final long start;
        final long end;

        Range(String path, long firstLine, long start, long end) {
            this.path = path;
            this.firstLine = firstLine;
            this.start = start;
            this.end = end;
        }
    }

    static final class ReplayStream implements MicroBatchStream, SupportsTriggerAvailableNow {
        private final String path;
        private final int maxFrames;
        private final int step;
        // the last log head seen: the next head scan starts here
        private ReplayOffset head = new ReplayOffset(0, 0);
        // the head at this run's first latestOffset call: the catch-up end
        private ReplayOffset catchUpEnd;
        private ReplayOffset availableNowEnd;

        ReplayStream(String path, int maxFrames, int step) {
            this.path = path;
            this.maxFrames = maxFrames;
            this.step = step;
        }

        @Override
        public Offset initialOffset() {
            return new ReplayOffset(0, 0);
        }

        @Override
        public Offset deserializeOffset(String json) {
            long[] v = parseOffset(json);
            ReplayOffset at = v[1] >= 0 ? new ReplayOffset(v[0], v[1]) : lineStart(v[0]);
            if (at.index > head.index) {
                head = at; // a restart's head scan starts at its checkpoint
            }
            return at;
        }

        /** The offset of line {@code n}, for the older {@code {"index": n}} form. */
        private ReplayOffset lineStart(long n) {
            // the engine reads a restart's offsets more than once: scan
            // from the last known point when it is not past line n
            ReplayOffset from = head.index <= n ? head : new ReplayOffset(0, 0);
            try (FileChannel ch = open(path)) {
                ReplayOffset at = advance(ch, from, n - from.index);
                if (at.index != n) {
                    throw new IllegalStateException(
                        "replay: offset " + n + " is past the " + at.index + " lines of " + path);
                }
                return at;
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        @Override
        public Offset latestOffset() {
            throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) should be called instead");
        }

        @Override
        public Offset latestOffset(Offset startOffset, ReadLimit limit) {
            ReplayOffset start = (ReplayOffset) startOffset;
            try (FileChannel ch = open(path)) {
                ReplayOffset end = scanHead(ch);
                if (availableNowEnd != null && availableNowEnd.index < end.index) {
                    end = availableNowEnd;
                }
                if (catchUpEnd == null) {
                    catchUpEnd = end;
                }
                if (end.index <= start.index) {
                    return start;
                }
                if (maxFrames <= 0) {
                    return end;
                }
                if (start.index < catchUpEnd.index) {
                    return catchUpEnd;
                }
                return end.index - start.index > maxFrames ? advance(ch, start, maxFrames) : end;
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        @Override
        public void prepareForTriggerAvailableNow() {
            try (FileChannel ch = open(path)) {
                availableNowEnd = scanHead(ch);
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        /** The offset after the last newline-terminated line. */
        private ReplayOffset scanHead(FileChannel ch) throws IOException {
            head = advance(ch, head, Long.MAX_VALUE);
            return head;
        }

        @Override
        public InputPartition[] planInputPartitions(Offset start, Offset end) {
            ReplayOffset s = (ReplayOffset) start;
            ReplayOffset e = (ReplayOffset) end;
            if (e.index - s.index <= step) {
                return new InputPartition[] {new Range(path, s.index, s.pos, e.pos)};
            }
            try (FileChannel ch = open(path)) {
                return plan(ch, path, s, e.pos, step);
            } catch (IOException ex) {
                throw new UncheckedIOException(ex);
            }
        }

        @Override
        public PartitionReaderFactory createReaderFactory() {
            return new ReaderFactory();
        }

        @Override
        public void commit(Offset end) {}

        @Override
        public void stop() {}
    }

    static final class ReaderFactory implements PartitionReaderFactory {
        @Override
        public PartitionReader<InternalRow> createReader(InputPartition partition) {
            return new LineReader((Range) partition);
        }
    }

    /** Parses the lines of one byte range. */
    static final class LineReader implements PartitionReader<InternalRow> {
        private final Range range;
        private final FileChannel ch;
        private final ByteBuffer buf = ByteBuffer.allocate(CHUNK).flip();
        private long pos;
        private long lineNo;
        private byte[] line = new byte[1 << 12];
        private int len;
        private InternalRow row;

        LineReader(Range range) {
            this.range = range;
            this.pos = range.start;
            this.lineNo = range.firstLine; // counted from 1 once read
            try {
                this.ch = open(range.path);
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        @Override
        public boolean next() throws IOException {
            while (readLine()) {
                lineNo++;
                if (!blank()) {
                    row = parse();
                    return true;
                }
            }
            return false;
        }

        @Override
        public InternalRow get() {
            return row;
        }

        @Override
        public void close() throws IOException {
            ch.close();
        }

        /** The next line of the range, without its newline; false at the range's end. */
        private boolean readLine() throws IOException {
            len = 0;
            boolean any = false;
            while (true) {
                if (!buf.hasRemaining()) {
                    if (pos >= range.end) {
                        return any;
                    }
                    buf.clear().limit((int) Math.min(CHUNK, range.end - pos));
                    int n = ch.read(buf, pos);
                    buf.flip();
                    if (n <= 0) {
                        return any; // the file is shorter than planned
                    }
                    pos += n;
                }
                any = true;
                byte[] a = buf.array();
                int from = buf.position();
                int to = buf.limit();
                int i = from;
                while (i < to && a[i] != '\n') {
                    i++;
                }
                append(a, from, i - from);
                if (i < to) {
                    buf.position(i + 1);
                    return true;
                }
                buf.position(to);
            }
        }

        private void append(byte[] a, int from, int n) {
            if (len + n > line.length) {
                line = Arrays.copyOf(line, Math.max(line.length * 2, len + n));
            }
            System.arraycopy(a, from, line, len, n);
            len += n;
        }

        private boolean blank() {
            for (int i = 0; i < len; i++) {
                byte b = line[i];
                if (b != ' ' && b != '\t' && b != '\r') {
                    return false;
                }
            }
            return true;
        }

        private InternalRow parse() throws IOException {
            Object[] v = new Object[3];
            try (JsonParser p = JSON.createParser(line, 0, len)) {
                if (p.nextToken() != JsonToken.START_OBJECT) {
                    throw bad(null);
                }
                JsonToken t;
                while ((t = p.nextToken()) == JsonToken.FIELD_NAME) {
                    String key = p.currentName();
                    t = p.nextToken();
                    switch (key) {
                        case "frame":
                            if (t == JsonToken.VALUE_STRING) {
                                v[0] = UTF8String.fromString(p.getText());
                            } else if (t != JsonToken.VALUE_NULL) {
                                throw bad(null);
                            }
                            break;
                        case "arrival_ms":
                            v[1] = longOrNull(p, t);
                            break;
                        case "seq":
                            v[2] = longOrNull(p, t);
                            break;
                        default:
                            p.skipChildren();
                    }
                }
                if (t != JsonToken.END_OBJECT || p.nextToken() != null) {
                    throw bad(null);
                }
            } catch (com.fasterxml.jackson.core.JacksonException e) {
                throw bad(e);
            }
            return new GenericInternalRow(v);
        }

        private Long longOrNull(JsonParser p, JsonToken t) throws IOException {
            if (t == JsonToken.VALUE_NUMBER_INT) {
                return p.getLongValue();
            }
            if (t != JsonToken.VALUE_NULL) {
                throw bad(null);
            }
            return null;
        }

        private IOException bad(Exception cause) {
            String text = new String(line, 0, Math.min(len, 200), StandardCharsets.UTF_8);
            return new IOException(
                "replay: line " + lineNo + " of " + range.path + " is not a frame record: " + text, cause);
        }
    }

    static FileChannel open(String path) throws IOException {
        return FileChannel.open(Paths.get(path), StandardOpenOption.READ);
    }

    /**
     * The offset {@code lines} newline-terminated lines past {@code from},
     * or after the last such line if the file holds fewer.
     */
    static ReplayOffset advance(FileChannel ch, ReplayOffset from, long lines) throws IOException {
        long index = from.index;
        long lineEnd = from.pos;
        long pos = from.pos;
        long want = lines > Long.MAX_VALUE - from.index ? Long.MAX_VALUE : from.index + lines;
        ByteBuffer buf = ByteBuffer.allocate(CHUNK);
        while (index < want) {
            buf.clear();
            int n = ch.read(buf, pos);
            if (n <= 0) {
                break;
            }
            byte[] a = buf.array();
            for (int i = 0; i < n && index < want; i++) {
                if (a[i] == '\n') {
                    index++;
                    lineEnd = pos + i + 1;
                }
            }
            pos += n;
        }
        return new ReplayOffset(index, lineEnd);
    }

    /**
     * Byte ranges from {@code from} to {@code end}, a new one after every
     * {@code step} lines; at least one range.
     */
    static InputPartition[] plan(FileChannel ch, String path, ReplayOffset from, long end, int step)
            throws IOException {
        List<InputPartition> out = new ArrayList<>();
        ReplayOffset at = from;
        while (true) {
            ReplayOffset next = advance(ch, at, step);
            if (next.pos >= end || next.index - at.index < step) {
                out.add(new Range(path, at.index, at.pos, end));
                return out.toArray(new InputPartition[0]);
            }
            out.add(new Range(path, at.index, at.pos, next.pos));
            at = next;
        }
    }

    /** {index, pos} of an offset's JSON; pos is -1 in the older {"index": n} form. */
    static long[] parseOffset(String json) {
        long[] v = {-1, -1};
        try (JsonParser p = JSON.createParser(json)) {
            if (p.nextToken() != JsonToken.START_OBJECT) {
                throw new IllegalArgumentException("replay: bad offset " + json);
            }
            while (p.nextToken() == JsonToken.FIELD_NAME) {
                String key = p.currentName();
                p.nextToken();
                if (key.equals("index")) {
                    v[0] = p.getLongValue();
                } else if (key.equals("pos")) {
                    v[1] = p.getLongValue();
                } else {
                    p.skipChildren();
                }
            }
        } catch (IOException e) {
            throw new IllegalArgumentException("replay: bad offset " + json, e);
        }
        if (v[0] < 0) {
            throw new IllegalArgumentException("replay: bad offset " + json);
        }
        return v;
    }
}

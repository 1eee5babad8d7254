package borsa_spark.streaming;

import java.sql.Timestamp;
import java.time.Instant;
import java.time.LocalDateTime;
import java.time.ZoneOffset;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.Comparator;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * Per-key monotonic gate (filters.rs:41-63): drop an update strictly older
 * than the key's high-water mark, keep equal timestamps, let the first
 * update through. The state is one long per key: the HWM in microseconds.
 */
public final class MonotonicGate {
    private MonotonicGate() {}

    /**
     * Indices of the rows to keep, in {@code seq} order (stable on ties).
     * The key's new HWM is the timestamp of the last kept row, or
     * {@code hwm} when none is kept. Pass {@code Long.MIN_VALUE} for a key
     * with no state.
     */
    public static int[] keep(long[] ts, long[] seq, long hwm) {
        Integer[] order = new Integer[ts.length];
        Arrays.setAll(order, i -> i);
        Arrays.sort(order, Comparator.comparingLong(i -> seq[i]));
        int[] kept = new int[ts.length];
        int n = 0;
        for (int i : order) {
            if (ts[i] >= hwm) {
                kept[n++] = i;
                hwm = ts[i];
            }
        }
        return Arrays.copyOf(kept, n);
    }

    /** Gate {@code updates} per {@code key}; {@code ttlMs < 0} keeps idle state forever. */
    public static Dataset<Row> apply(Dataset<Row> updates, String key, long ttlMs) {
        StructType schema = updates.schema();
        StructType keySchema = new StructType(new StructField[] {schema.apply(key)});
        GroupStateTimeout timeout = ttlMs < 0
            ? GroupStateTimeout.NoTimeout() : GroupStateTimeout.ProcessingTimeTimeout();
        return updates.groupBy(key)
            .as(Encoders.row(keySchema), Encoders.row(schema))
            .flatMapGroupsWithState(
                new Gate(schema.fieldIndex("ts"), schema.fieldIndex("seq"), ttlMs),
                OutputMode.Append(), Encoders.LONG(), Encoders.row(schema), timeout);
    }

    static final class Gate implements FlatMapGroupsWithStateFunction<Row, Row, Long, Row> {
        private final int tsIdx;
        private final int seqIdx;
        private final long ttlMs;

        Gate(int tsIdx, int seqIdx, long ttlMs) {
            this.tsIdx = tsIdx;
            this.seqIdx = seqIdx;
            this.ttlMs = ttlMs;
        }

        @Override
        public Iterator<Row> call(Row key, Iterator<Row> values, GroupState<Long> state) {
            if (state.hasTimedOut()) {
                state.remove();
                return Collections.emptyIterator();
            }
            List<Row> rows = new ArrayList<>();
            values.forEachRemaining(rows::add);
            long[] ts = new long[rows.size()];
            long[] seq = new long[rows.size()];
            for (int i = 0; i < ts.length; i++) {
                Row r = rows.get(i);
                ts[i] = r.isNullAt(tsIdx) ? Long.MIN_VALUE : micros(r.get(tsIdx));
                seq[i] = r.isNullAt(seqIdx) ? Long.MAX_VALUE : r.getLong(seqIdx);
            }
            long hwm = state.exists() ? state.get() : Long.MIN_VALUE;
            int[] kept = keep(ts, seq, hwm);
            List<Row> out = new ArrayList<>(kept.length);
            for (int i : kept) {
                out.add(rows.get(i));
            }
            if (kept.length > 0) {
                hwm = ts[kept[kept.length - 1]];
            }
            state.update(hwm);
            if (ttlMs >= 0) {
                state.setTimeoutDuration(ttlMs);
            }
            return out.iterator();
        }

        private static long micros(Object t) {
            Instant i;
            if (t instanceof Timestamp) {
                i = ((Timestamp) t).toInstant();
            } else if (t instanceof LocalDateTime) {
                i = ((LocalDateTime) t).toInstant(ZoneOffset.UTC);
            } else {
                i = (Instant) t;
            }
            return i.getEpochSecond() * 1_000_000L + i.getNano() / 1_000;
        }
    }
}

"""The t-digest's JVM kernel, compiled on the driver by Janino.  Four
classes: the map-side build (``DigestPartials``, one
``MapPartitionsFunction`` per input partition), the stage-2 merge
(``DigestMerge``), the quantile/cdf queries of the SQL surface
(``DigestQuery``, a Java UDF) and the per-row cdf scorer of
``percentile_enrich`` (``CdfScorer``, a Java UDF).  With them no batch
t-digest build, merge or quantile/cdf query starts a Python worker.

Build.  Stage 1 of every digest build is ingest-only: unit-weight
samples go into a buffer, the buffer compacts when it overflows, and
each partial is compressed and serialized once.  Running that in a
Python worker costs the JVM -> Python Arrow transfer of every input row,
which is most of the build.  ``DigestPartials`` runs the ingest half of
``core.MergingDigest`` (the buffer, ``_compact``, ``compress`` and the
VERBOSE ``to_bytes``) inside the task's JVM instead, so only the
KB-sized partial rows leave it.

Build parity: a partial is byte-identical to a driver ``MergingDigest``
fed each group's non-NULL, non-NaN values one 10,000-input-row chunk
(``core._CHUNK``) at a time, in row order.  The Java mirrors NumPy's
IEEE operation order: a stable sort with NaN last, sequential cumsum,
the segment sums of ``np.add.reduceat`` (first element plus NumPy's
pairwise sum of the rest), ``np.clip``'s tie rules on signed zeros, and
``scale.limit``'s closed forms term by term.  The only scalars it
cannot reproduce bit for bit are the transcendental ones: K_1's
sin/cos are computed here in NumPy and passed in, while K_2/K_3 use two
``StrictMath`` calls where the core uses NumPy's libm, because both
depend on the weight at each compaction: ``log(total/delta)`` in the
normalizer and ``exp(1/norm)`` in the limit.  A last-ulp difference in
either moves a cluster boundary only when a limit lands within an ulp
of an integer cumulative weight.  So K_2/K_3 parity is verified, not
proven: tests/test_jvm_kernel.py checks it on its corpora across every
scale and regime.

Merge.  ``DigestMerge`` is ``groupByKey`` on the folded key, then
``flatMapSortedGroups`` by salt: each group's partials are read as
``from_bytes`` reads them and absorbed in ascending salt order as
``MergingDigest.merge`` absorbs them (``add_weighted`` with each
partial's pairwise total, a forced ascending compaction at the private
compression once the buffer passes max_size), then serialized with
``to_bytes``.  The merged digest takes the first partial's compression
and scale.  K_1 needs NumPy's sin/cos for that compression: the build
names its compression in the digest column's metadata (``DELTA_META``),
and the merge then uses the NumPy values the build used.  Without that
metadata (partials made elsewhere) it falls back to ``StrictMath``,
which differed from NumPy in the last ulp for 4 of 9,980 compressions
checked.  A partial with more centroids than its buffer, which
``from_bytes`` would compact, fails the merge.

Queries.  ``DigestQuery`` answers ``tdigest_quantile`` and
``tdigest_cdf``, bit-identical to ``from_bytes(blob).quantile(q)`` and
to the scalar ``from_bytes(blob).cdf(x)``; each task parses a digest
once, keyed by its bytes.

Scoring.  ``CdfScorer`` returns the cdf of a row's group digest at the
row's value.  The digest table (key columns, then the digest) is
collected into the driver JVM and sent to executors as a JVM broadcast;
each executor indexes it once and parses each digest on first use.  A
score is bit-identical to ``MergingDigest.from_bytes(blob).cdf_batch``:
both encodings load, the centroids re-sort with the build's stable
NaN-last merge sort, the total weight is NumPy's pairwise
``counts.sum()``, the prefix weights a sequential cumsum, and the
branches of ``cdf_batch`` keep their precedence and IEEE operation
order.  Loading never compacts: a query or a score of a digest with at
least its private compression in centroids (``to_bytes`` never writes
one) fails.

Keys fold in the build, the merge and the scorer as
``_arrow_groups.split_groups`` folds them: NULL is a group, all NaNs are
one group, -0.0 is 0.0, and binary keys compare by value.

Loading: the source is a string in this module, so a ``--py-files`` zip
of ``*.py`` carries it.  The driver JVM compiles it with Janino (shipped
with Spark), the class files go into a jar cached under the source's
sha256, and the jar is added once per SparkContext with ``ADD JAR`` (so
executors fetch it too).  This needs a classic (py4j) session: every
class goes through ``DataFrame._jdf`` or the session's JVM.  Janino
compiles a Java subset: no lambdas, and generics are erased, so the
source names raw types and casts explicitly.  The UDFs are wrapped, and
the queries registered, with the Java overloads of
``functions.udf(UDFn, DataType)`` and ``UDFRegistration.register(name,
UDF2, DataType)``, chosen at compile time in the Java source: py4j would
pick the untyped Scala overload, which Spark 4 rejects
(``UNTYPED_SCALA_UDF``).
"""

from __future__ import annotations

import hashlib
import io
import os
import stat
import tempfile
import threading
import zipfile
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.classic.column import Column as ClassicColumn, _to_seq
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType

from ..core import MergingDigest
from ..scale import SCALE_CODES, get_scale
from ._arrow_groups import _out_schema

CLASS_NAME = "tdigest_spark.jvm.DigestPartials"
SCORER_CLASS = "tdigest_spark.jvm.CdfScorer"
MERGE_CLASS = "tdigest_spark.jvm.DigestMerge"
QUERY_CLASS = "tdigest_spark.jvm.DigestQuery"
#: digest column metadata: the public compression the kernel built the
#: column's digests at, so a merge can use NumPy's K_1 sin/cos for it
DELTA_META = "tdigest_delta"

JAVA_SOURCE = r"""
package tdigest_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.HashMap;
import java.util.Iterator;
import java.util.LinkedHashMap;
import java.util.WeakHashMap;
import org.apache.spark.TaskContext;
import org.apache.spark.api.java.function.FlatMapGroupsFunction;
import org.apache.spark.api.java.function.MapFunction;
import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.UDFRegistration;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/** Per input partition: one t-digest per (group, value column), fed one
 *  CHUNK-input-row chunk at a time; emits (*keys, [col,] partition id,
 *  digest, n_rows) per digest. */
public class DigestPartials implements MapPartitionsFunction {
    static final int CHUNK = 10000;

    final int nKeys, nValues;
    final String[] cols;     // per-column build: the col field; else null
    final Params params;

    public DigestPartials(Integer nKeys, Integer nValues, String[] cols,
                          Double publicDelta, Double privateDelta,
                          Integer maxSize, Integer scale, double[] sinCos) {
        this.nKeys = nKeys.intValue();
        this.nValues = nValues.intValue();
        this.cols = cols;
        params = new Params(publicDelta.doubleValue(), privateDelta.doubleValue(),
                            maxSize.intValue(), scale.intValue(), sinCos);
    }

    public Iterator call(Iterator rows) throws Exception {
        LinkedHashMap groups = new LinkedHashMap();
        Work work = new Work();
        ArrayList dirty = new ArrayList();
        int inChunk = 0;
        while (rows.hasNext()) {
            Row r = (Row) rows.next();
            Object gk = rowKey(r, nKeys);
            Group g = (Group) groups.get(gk);
            if (g == null) {
                g = new Group(r, this, work);
                groups.put(gk, g);
            }
            for (int j = 0; j < nValues; j++) {
                int c = nKeys + j;
                if (r.isNullAt(c)) continue;
                double x = r.getDouble(c);
                if (x != x) continue;
                Sink s = g.sinks[j];
                if (s == null) s = g.sinks[j] = new Sink(new Digest(params, work));
                if (s.len == 0) dirty.add(s);
                s.append(x);
            }
            if (++inChunk == CHUNK) {
                flush(dirty);
                inChunk = 0;
            }
        }
        flush(dirty);

        Integer pid = Integer.valueOf(TaskContext.getPartitionId());
        ArrayList out = new ArrayList();
        Iterator it = groups.values().iterator();
        while (it.hasNext()) {
            Group g = (Group) it.next();
            for (int j = 0; j < nValues; j++) {
                Sink s = g.sinks[j];
                if (s == null) continue;
                Object[] row = new Object[nKeys + (cols == null ? 3 : 4)];
                System.arraycopy(g.key, 0, row, 0, nKeys);
                int p = nKeys;
                if (cols != null) row[p++] = cols[j];
                row[p++] = pid;
                row[p++] = s.digest.toBytes();
                row[p] = Long.valueOf((long) s.digest.total);
                out.add(RowFactory.create(row));
            }
        }
        return out.iterator();
    }

    static void flush(ArrayList dirty) {
        for (int i = 0; i < dirty.size(); i++) {
            Sink s = (Sink) dirty.get(i);
            s.digest.addChunk(s.buf, s.len);
            s.len = 0;
        }
        dirty.clear();
    }

    /** A float key folded as GROUP BY folds it: every NaN is one value
     *  and -0.0 is 0.0. */
    static Object fold(Object v) {
        if (v instanceof Double) {
            double d = ((Double) v).doubleValue();
            if (d != d) return Double.valueOf(Double.NaN);
            return d == 0.0 ? Double.valueOf(0.0) : v;
        }
        if (v instanceof Float) {
            float f = ((Float) v).floatValue();
            if (f != f) return Float.valueOf(Float.NaN);
            return f == 0.0f ? Float.valueOf(0.0f) : v;
        }
        return v;
    }

    /** The group identity of a key value: folded, binary by content. */
    static Object groupKey(Object v) {
        return v instanceof byte[] ? ByteBuffer.wrap((byte[]) v) : fold(v);
    }

    /** The group of the first `nKeys` fields of `r`. */
    static Object rowKey(Row r, int nKeys) {
        if (nKeys == 1) return groupKey(r.get(0));
        Object[] kv = new Object[nKeys];
        for (int i = 0; i < nKeys; i++) kv[i] = groupKey(r.get(i));
        return Arrays.asList(kv);
    }

    static final class Group {
        final Object[] key;
        final Sink[] sinks;

        Group(Row r, DigestPartials k, Work work) {
            key = new Object[k.nKeys];
            for (int i = 0; i < k.nKeys; i++) key[i] = fold(r.get(i));
            sinks = new Sink[k.nValues];
            // one value column: every group seen emits a partial, even one
            // with no values; per-column builds emit only fed digests
            if (k.cols == null) sinks[0] = new Sink(new Digest(k.params, work));
        }
    }

    /** A digest and the values of the current chunk not yet added to it. */
    static final class Sink {
        final Digest digest;
        double[] buf = new double[16];
        int len;

        Sink(Digest d) { digest = d; }

        void append(double x) {
            if (len == buf.length) buf = Arrays.copyOf(buf, 2 * len);
            buf[len++] = x;
        }
    }

    /** compact()'s work arrays, shared by the digests of one task (they
     *  compact one at a time), so a group costs only its own buffer. */
    static final class Work {
        double[] key = new double[0], cw;
        int[] perm, tmp, bounds;

        void ensure(int c) {
            if (c <= key.length) return;
            key = new double[c];
            cw = new double[c];
            perm = new int[c];
            tmp = new int[c];
            bounds = new int[c + 1];
        }
    }

    /** A MergingDigest's compressions, buffer bound and scale. */
    static final class Params implements java.io.Serializable {
        final double publicDelta, privateDelta;
        final int maxSize, scale;
        final double[] sinCos;   // K_1: sin, cos of 1/norm at private, public

        Params(double publicDelta, double privateDelta, int maxSize, int scale,
               double[] sinCos) {
            this.publicDelta = publicDelta;
            this.privateDelta = privateDelta;
            this.maxSize = maxSize;
            this.scale = scale;
            this.sinCos = sinCos;
        }

        /** MergingDigest(delta, scale) as from_bytes constructs it: delta
         *  clamped to >= 10, max_size = 2*delta + max(50, 5*delta), private
         *  compression sqrt(max_size / (2*delta)) * delta.  K_1 takes `k1`
         *  = {public compression, its four sin/cos} (NumPy's, from the
         *  driver) when it names this compression, else StrictMath's. */
        static Params of(double delta, int scale, double[] k1) {
            if (scale > 3) throw new IllegalArgumentException("Unknown scale code " + scale);
            double c = delta < 10 ? 10.0 : delta;
            if (Double.isNaN(c) || Double.isInfinite(c)) {
                throw new IllegalArgumentException("Invalid t-digest compression " + delta);
            }
            int maxSize = (int) (2 * c + Math.max(50.0, 5 * c));
            double priv = Math.sqrt(maxSize / (2 * c)) * c;
            double[] sinCos = null;
            if (scale == 1) {
                if (k1 != null && k1[0] == c) {
                    sinCos = Arrays.copyOfRange(k1, 1, 5);
                } else {
                    double a = 1.0 / (priv / (2.0 * Math.PI)), b = 1.0 / (c / (2.0 * Math.PI));
                    sinCos = new double[] {
                        StrictMath.sin(a), StrictMath.cos(a), StrictMath.sin(b), StrictMath.cos(b)};
                }
            }
            return new Params(c, priv, maxSize, scale, sinCos);
        }
    }

    /** The ingest and merge halves of core.MergingDigest. */
    static final class Digest {
        final Params k;
        final Work work;
        double[] mean = new double[8], count = new double[8];
        int n, mergeCount, watermark;
        double total;
        boolean isReversed;

        Digest(Params k, Work work) {
            this.k = k;
            this.work = work;
        }

        void grow(int need) {
            if (need <= mean.length) return;
            int c = mean.length;
            while (c < need) c *= 2;
            mean = Arrays.copyOf(mean, c);
            count = Arrays.copyOf(count, c);
        }

        void addChunk(double[] vals, int b) {
            grow(n + b);
            total += b;
            System.arraycopy(vals, 0, mean, n, b);
            Arrays.fill(count, n, n + b, 1.0);
            n += b;
            if (n > k.maxSize) compact(false, k.privateDelta);
        }

        /** add_weighted: the first `b` centroids of (m, c), whose total
         *  weight is `weight`; a forced ascending compaction at the private
         *  compression once the buffer passes max_size. */
        void addWeighted(double[] m, double[] c, int b, double weight) {
            if (b == 0) return;
            grow(n + b);
            total += weight;
            System.arraycopy(m, 0, mean, n, b);
            System.arraycopy(c, 0, count, n, b);
            n += b;
            if (n > k.maxSize) compact(true, k.privateDelta);
        }

        /** NumPy's float order: a < b, NaN after every number. */
        static boolean lt(double a, double b) {
            return a < b || (b != b && a == a);
        }

        /** Stable sort of (mean, count) by key = mean, or -mean reversed
         *  (np.argsort(kind="stable")). */
        void stableSort(boolean reverse) {
            double[] key = work.key;
            for (int i = 0; i < n; i++) key[i] = reverse ? -mean[i] : mean[i];
            mergeSort(key, mean, count, n, work.perm, work.tmp);
        }

        /** Stable merge sort of (mean, count)[0:n] by `key` (NumPy order);
         *  `a`, `b` are scratch of length >= n, and `key` is overwritten. */
        static void mergeSort(double[] key, double[] mean, double[] count, int n,
                              int[] a, int[] b) {
            for (int i = 0; i < n; i++) a[i] = i;
            for (int w = 1; w < n; w *= 2) {
                for (int lo = 0; lo < n; lo += 2 * w) {
                    int mid = Math.min(lo + w, n), hi = Math.min(lo + 2 * w, n);
                    int i = lo, j = mid, o = lo;
                    while (i < mid && j < hi) {
                        // take the right run only when strictly smaller
                        if (lt(key[a[j]], key[a[i]])) b[o++] = a[j++];
                        else b[o++] = a[i++];
                    }
                    while (i < mid) b[o++] = a[i++];
                    while (j < hi) b[o++] = a[j++];
                }
                int[] t = a; a = b; b = t;
            }
            for (int i = 0; i < n; i++) key[i] = mean[a[i]];
            System.arraycopy(key, 0, mean, 0, n);
            for (int i = 0; i < n; i++) key[i] = count[a[i]];
            System.arraycopy(key, 0, count, 0, n);
        }

        double normalizer(double delta) {
            switch (k.scale) {
                case 0: return delta / 2.0;
                case 1: return delta / (2.0 * Math.PI);
                case 2: return delta / (4.0 * Math.max(StrictMath.log(total / delta), 0.0) + 24.0);
                default: return delta / (4.0 * Math.max(StrictMath.log(total / delta), 0.0) + 21.0);
            }
        }

        static double clipQ(double q) {
            return clip(q, 1e-15, 1.0 - 1e-15);
        }

        /** np.clip: max then min, NaN-propagating, ties to the bound. */
        static double clip(double x, double lo, double hi) {
            double t = (x != x || x > lo) ? x : lo;
            return (t != t || t < hi) ? t : hi;
        }

        void compact(boolean force, double compression) {
            if (n <= 1) return;
            if (!(force || n > k.maxSize)) return;
            work.ensure(n);
            boolean reverse = !force && mergeCount % 2 == 1;
            if (isReversed != reverse && watermark > 0) {
                for (int i = 0, j = watermark - 1; i < j; i++, j--) {
                    double m = mean[i]; mean[i] = mean[j]; mean[j] = m;
                    double c = count[i]; count[i] = count[j]; count[j] = c;
                }
            }
            stableSort(reverse);
            isReversed = reverse;
            if (!reverse && n < compression) {
                watermark = n;
                return;
            }
            mergeCount++;

            double norm = normalizer(compression);
            double e = 0.0, sinC = 0.0, cosC = 0.0;
            if (k.scale == 1) {
                int o = compression == k.privateDelta ? 0 : 2;
                sinC = k.sinCos[o];
                cosC = k.sinCos[o + 1];
            } else if (k.scale >= 2) {
                e = StrictMath.exp(1.0 / norm);
            }
            double[] cw = work.cw;
            double acc = 0.0;
            for (int i = 0; i < n; i++) {
                acc += count[i];
                cw[i] = acc;
            }

            // greedy boundary walk (core._compact): cluster 0 is the first
            // centroid alone; the last centroid stays its own cluster
            int[] b = work.bounds;
            b[0] = 0;
            b[1] = 1;
            int nb = 2, s = 1, nm1 = n - 1;
            while (s < nm1) {
                double limitW = total * limit(cw[s - 1] / total, norm, e, sinC, cosC);
                int lo = 0, hi = nm1;               // searchsorted(cw[:n-1], limitW, "right")
                while (lo < hi) {
                    int m = (lo + hi) >>> 1;
                    if (cw[m] <= limitW) lo = m + 1; else hi = m;
                }
                int end = lo - 1;
                if (end < s) end = s;
                b[nb++] = end + 1;
                s = end + 1;
            }
            if (s == nm1) b[nb++] = n;

            int to = nb - 1;
            double[] mw = work.key;
            for (int i = 0; i < n; i++) mw[i] = mean[i] * count[i];
            for (int c = 0; c < to; c++) {
                int lo = b[c], hi = b[c + 1];
                double w = segmentSum(count, lo, hi);
                double m = segmentSum(mw, lo, hi) / w;
                double first = mean[lo], last = mean[hi - 1];
                m = reverse ? clip(m, last, first) : clip(m, first, last);
                mean[c] = m;
                count[c] = w;
            }
            n = to;
            watermark = to;
            if (!(to < compression)) {
                throw new IllegalStateException(
                    "Merging was ineffective: " + to + " clusters at compression " + compression);
            }
        }

        /** scale.limit(q0, norm) for one ascending-walk quantile. */
        double limit(double q0, double norm, double e, double sinC, double cosC) {
            switch (k.scale) {
                case 0:
                    return q0 + 1.0 / norm;
                case 1: {
                    double q = clipQ(q0);
                    if (!(q <= (cosC + 1.0) / 2.0)) return 1.0;
                    double s = 2.0 * q - 1.0;
                    return (s * cosC + Math.sqrt((1.0 - s) * (1.0 + s)) * sinC + 1.0) / 2.0;
                }
                case 2: {
                    double q = clipQ(q0);
                    double w = (q / (1.0 - q)) * e;
                    return w / (1.0 + w);
                }
                default: {
                    double q = clipQ(q0);
                    if (q <= 0.5 / e) return q * e;
                    if (q <= 0.5) return 1.0 - 1.0 / (4.0 * e * q);
                    return 1.0 - (1.0 - q) / e;
                }
            }
        }

        /** np.add.reduceat's sum of a[lo:hi]: the first element, plus
         *  NumPy's pairwise sum of the rest. */
        static double segmentSum(double[] a, int lo, int hi) {
            return hi - lo == 1 ? a[lo] : a[lo] + pairwise(a, lo + 1, hi - lo - 1);
        }

        static double pairwise(double[] a, int off, int n) {
            if (n < 8) {
                double res = -0.0;
                for (int i = 0; i < n; i++) res += a[off + i];
                return res;
            }
            if (n <= 128) {
                double r0 = a[off], r1 = a[off + 1], r2 = a[off + 2], r3 = a[off + 3];
                double r4 = a[off + 4], r5 = a[off + 5], r6 = a[off + 6], r7 = a[off + 7];
                int i;
                for (i = 8; i < n - (n % 8); i += 8) {
                    int p = off + i;
                    r0 += a[p]; r1 += a[p + 1]; r2 += a[p + 2]; r3 += a[p + 3];
                    r4 += a[p + 4]; r5 += a[p + 5]; r6 += a[p + 6]; r7 += a[p + 7];
                }
                double res = ((r0 + r1) + (r2 + r3)) + ((r4 + r5) + (r6 + r7));
                for (; i < n; i++) res += a[off + i];
                return res;
            }
            int n2 = n / 2;
            n2 -= n2 % 8;
            return pairwise(a, off, n2) + pairwise(a, off + n2, n - n2);
        }

        /** compress(), then the VERBOSE layout of core.MergingDigest.to_bytes. */
        byte[] toBytes() {
            compact(true, k.publicDelta);
            ByteBuffer out = ByteBuffer.allocate(41 + 16 * n).order(ByteOrder.LITTLE_ENDIAN);
            out.putInt(1);
            out.put((byte) k.scale);
            out.putDouble(n > 0 ? mean[0] : Double.NaN);
            out.putDouble(n > 0 ? mean[n - 1] : Double.NaN);
            out.putDouble(k.publicDelta);
            out.putInt(n);
            out.putLong((long) total);
            for (int i = 0; i < n; i++) {
                out.putDouble(count[i]);
                out.putDouble(mean[i]);
            }
            return out.array();
        }
    }
}

/** percentile_enrich's scorer: the cdf of a row's group digest at the
 *  row's value, equal bit for bit to MergingDigest.from_bytes(blob)
 *  .cdf_batch.  A UDF1 (value) for by=(), a UDF2 (key, value) otherwise,
 *  with several key columns passed as one struct.  NULL for a NULL, NaN
 *  or infinite value, a group the table lacks or holds a NULL digest
 *  for, an empty digest, and a NaN result. */
public class CdfScorer implements UDF1, UDF2 {
    /** broadcast Row[] -> its Table: each executor indexes a table and
     *  parses each digest once, whatever the number of tasks */
    static final WeakHashMap TABLES = new WeakHashMap();

    final Broadcast rows;    // Row[]: (*keys, digest), one per group
    final int nKeys;
    transient Table table;

    public CdfScorer(Broadcast rows, Integer nKeys) {
        this.rows = rows;
        this.nKeys = nKeys.intValue();
    }

    /** This scorer as a Spark UDF returning double. */
    public UserDefinedFunction udf() {
        UserDefinedFunction f = nKeys == 0
            ? functions.udf((UDF1) this, DataTypes.DoubleType)
            : functions.udf((UDF2) this, DataTypes.DoubleType);
        return f.withName("percentile_enrich");
    }

    /** The first table row whose group repeats an earlier row's, or -1. */
    public int duplicate() {
        return table().duplicate;
    }

    public Object call(Object value) {
        return score(null, value);
    }

    public Object call(Object key, Object value) {
        return score(key, value);
    }

    Object score(Object key, Object value) {
        Object gk = nKeys == 1
            ? DigestPartials.groupKey(key) : DigestPartials.rowKey((Row) key, nKeys);
        Cdf d = table().get(gk);
        if (d == null || value == null) return null;
        double x = ((Double) value).doubleValue();
        if (x != x || Double.isInfinite(x)) return null;
        double p = d.at(x);
        return p != p ? null : Double.valueOf(p);
    }

    Table table() {
        if (table == null) {
            Object v = rows.value();
            synchronized (TABLES) {
                table = (Table) TABLES.get(v);
                if (table == null) {
                    table = new Table((Row[]) v, nKeys);
                    TABLES.put(v, table);
                }
            }
        }
        return table;
    }

    /** Group key -> digest, the digests parsed on first use.  Holds no
     *  reference to the Row[] it indexes, so TABLES lets go of both once
     *  the broadcast value is dropped. */
    static final class Table {
        final HashMap index = new HashMap();
        final byte[][] blobs;
        final Cdf[] parsed;
        int duplicate = -1;

        Table(Row[] rows, int nKeys) {
            blobs = new byte[rows.length][];
            parsed = new Cdf[rows.length];
            for (int i = 0; i < rows.length; i++) {
                Object gk = DigestPartials.rowKey(rows[i], nKeys);
                if (index.containsKey(gk)) {
                    if (duplicate < 0) duplicate = i;
                    continue;
                }
                index.put(gk, Integer.valueOf(i));
                blobs[i] = (byte[]) rows[i].get(nKeys);
            }
        }

        Cdf get(Object gk) {
            Integer i = (Integer) index.get(gk);
            if (i == null || blobs[i.intValue()] == null) return null;
            int j = i.intValue();
            Cdf d = parsed[j];
            // a racing task parses the same bytes; final fields publish safely
            if (d == null) parsed[j] = d = Cdf.parse(blobs[j]);
            return d;
        }
    }

    /** A serialized digest as MergingDigest.from_bytes reads it (VERBOSE
     *  or SMALL): its parameters and its centroids in stored order, with
     *  their total weight as add_weighted sums it. */
    static final class Blob {
        final DigestPartials.Params params;
        final int n;
        final double[] mean, count;
        final double weight;

        Blob(DigestPartials.Params params, int n, double[] mean, double[] count) {
            this.params = params;
            this.n = n;
            this.mean = mean;
            this.count = count;
            weight = Cdf.sum(count, 0, n);
        }

        static Blob read(byte[] blob, double[] k1) {
            ByteBuffer b = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
            int code = b.getInt();
            if (code != 1 && code != 2) {
                throw new IllegalArgumentException(
                    "Invalid format for serialized t-digest: code=" + code);
            }
            boolean small = code == 2;
            int scale = b.get() & 0xff;
            b.getDouble();   // min
            b.getDouble();   // max
            double delta = small ? (double) b.getFloat() : b.getDouble();
            long n = small ? (long) (b.getShort() & 0xffff) : (long) b.getInt() & 0xffffffffL;
            if (small) b.getShort(); else b.getLong();   // unused, as in from_bytes
            DigestPartials.Params p = DigestPartials.Params.of(delta, scale, k1);
            if (n > p.maxSize) {
                throw new IllegalArgumentException(
                    "a digest holds " + n + " centroids, more than its buffer of " + p.maxSize
                    + ", so loading it would compact it; serialize digests with "
                    + "MergingDigest.to_bytes");
            }
            int m = (int) n;
            double[] mean = new double[m], count = new double[m];
            for (int i = 0; i < m; i++) {
                count[i] = small ? (double) b.getFloat() : b.getDouble();
                mean[i] = small ? (double) b.getFloat() : b.getDouble();
            }
            return new Blob(p, m, mean, count);
        }
    }

    /** A digest as from_bytes loads it and a query's forced compaction
     *  sorts it: the centroids stably re-sorted by mean, NaN last.  It
     *  answers cdf_batch (`at`), and the scalar cdf and quantile. */
    static final class Cdf {
        final int n;
        final double[] mean, count, cum;   // cum = concatenate(([0], cumsum(count)))
        final double total;
        double[] half, below;              // quantile's brackets, on first use
        volatile double[] ends;

        Cdf(Blob b) {
            n = b.n;
            mean = b.mean;
            count = b.count;
            if (n > 1) DigestPartials.Digest.mergeSort(
                Arrays.copyOf(mean, n), mean, count, n, new int[n], new int[n]);
            cum = new double[n + 1];
            if (n > 0) cum[1] = count[0];
            for (int i = 1; i < n; i++) cum[i + 1] = cum[i] + count[i];
            total = b.weight;
        }

        /** 0.0 + a[lo:hi].sum(): NumPy's pairwise sum, one 8192-element
         *  buffer block after another. */
        static double sum(double[] a, int lo, int hi) {
            double s = 0.0;
            for (int b = lo; b < hi; b += 8192) {
                s += DigestPartials.Digest.pairwise(a, b, Math.min(8192, hi - b));
            }
            return s;
        }

        /** MergingDigest.from_bytes.  A digest at or above its private
         *  compression would compact on load, which is not reproduced
         *  here: it is rejected. */
        static Cdf parse(byte[] blob) {
            Blob b = Blob.read(blob, null);
            if (!(b.n < b.params.privateDelta)) {
                throw new IllegalArgumentException(
                    "a digest holds " + b.n + " centroids, not fewer than its private "
                    + "compression " + b.params.privateDelta + ", so loading it would "
                    + "compact it; serialize digests with MergingDigest.to_bytes");
            }
            return new Cdf(b);
        }

        /** cdf_batch at one finite x, same branch precedence and IEEE
         *  operation order. */
        double at(double x) {
            if (n == 0) return Double.NaN;
            if (n == 1) {
                double v = mean[0];
                return x < v ? 0.0 : (x > v ? 1.0 : 0.5);
            }
            double mn = mean[0], mx = mean[n - 1];
            if (x < mn) return 0.0;
            int il = search(x, false), ir = search(x, true);
            double wLt = cum[il], wLe = cum[ir];
            if (x == mn) return wLe / 2.0 / total;
            if (x > mx) return 1.0;
            if (x == mx) return 1.0 - 0.5 / total;
            if (ir > il) return (wLt + (wLe - wLt) / 2.0) / total;
            // interpolation between c_i < x < c_{i+1}
            int i = Math.min(Math.max(il - 1, 0), n - 2);
            double c1m = mean[i], c1c = count[i], c2m = mean[i + 1], c2c = count[i + 1];
            double wsf = wLt - c1c;
            if (c1c == 1 && c2c == 1) return (wsf + 1.0) / total;
            double leftExcl = c1c == 1 && c2c != 1 ? 0.5 : 0.0;
            double rightExcl = c2c == 1 && c1c != 1 ? 0.5 : 0.0;
            double dwNo = (c1c + c2c) / 2.0 - leftExcl - rightExcl;
            double base = wsf + c1c / 2.0 + leftExcl;
            return (base + dwNo * (x - c1m) / (c2m - c1m)) / total;
        }

        /** The scalar MergingDigest.cdf: its branches, with the weights
         *  below and at x as NumPy's masked sums. */
        double cdf(double x) {
            if (x != x || Double.isInfinite(x)) {
                throw new IllegalArgumentException(
                    "Invalid value: " + (x != x ? "nan" : x > 0 ? "inf" : "-inf"));
            }
            if (n == 0) return Double.NaN;
            if (n == 1) {
                double v = mean[0];
                return x < v ? 0.0 : (x > v ? 1.0 : 0.5);
            }
            double mn = mean[0], mx = mean[n - 1];
            if (x < mn) return 0.0;
            int il = search(x, false), ir = search(x, true);
            if (x == mn) return sum(count, 0, ir) / 2.0 / total;
            if (x > mx) return 1.0;
            if (x == mx) return 1.0 - 0.5 / total;
            double wsf = sum(count, 0, il);
            if (ir > il) return (wsf + sum(count, il, ir) / 2.0) / total;
            int i = il - 1;   // c_i < x < c_{i+1}
            double c1m = mean[i], c1c = count[i], c2m = mean[i + 1], c2c = count[i + 1];
            wsf -= c1c;
            double leftExcl = 0.0, rightExcl = 0.0;
            if (c1c == 1) {
                if (c2c == 1) return (wsf + 1.0) / total;
                leftExcl = 0.5;
            } else if (c2c == 1) {
                rightExcl = 0.5;
            }
            double dw = (c1c + c2c) / 2.0;
            double dwNo = dw - leftExcl - rightExcl;
            double base = wsf + c1c / 2.0 + leftExcl;
            return (base + dwNo * (x - c1m) / (c2m - c1m)) / total;
        }

        /** MergingDigest.quantile, same brackets and IEEE operation order. */
        double quantile(double q) {
            if (q < 0 || q > 1) {
                throw new IllegalArgumentException(
                    "q should be in [0,1], got " + (Double.isInfinite(q) ? (q > 0 ? "inf" : "-inf") : String.valueOf(q)));
            }
            if (n == 0) return Double.NaN;
            if (n == 1) return mean[0];
            if (count[0] != 1 || count[n - 1] != 1) {
                throw new IllegalStateException("Boundary centroid not singleton");
            }
            double index = q * total;
            if (index < 1) return mean[0];
            if (index > total - 1) return mean[n - 1];
            if (ends == null) brackets();
            // the first bracket i with below[i] + half[i] > index
            int lo = 0, hi = n - 1;
            while (lo < hi) {
                int m = (lo + hi) >>> 1;
                if (!DigestPartials.Digest.lt(index, ends[m])) lo = m + 1; else hi = m;
            }
            int i = lo >= n - 1 ? n - 2 : lo;
            double wsf = below[i], dw = half[i];
            double leftUnit = 0.0, rightUnit = 0.0;
            if (count[i] == 1) {
                if (index - wsf < 0.5) return mean[i];
                leftUnit = 0.5;
            }
            if (count[i + 1] == 1) {
                if (wsf + dw - index <= 0.5) return mean[i + 1];
                rightUnit = 0.5;
            }
            double z1 = index - wsf - leftUnit;
            double z2 = wsf + dw - index - rightUnit;
            // _weighted_average_sorted(mean[i], z2, mean[i + 1], z1)
            double x1 = mean[i], x2 = mean[i + 1];
            if (x1 > x2) throw new IllegalStateException("Out of order values");
            double x = (x1 * z2 + x2 * z1) / (z2 + z1);
            double m = x2 < x ? x2 : x;   // Python's min(x, x2), then max(x1, .)
            return m > x1 ? m : x1;
        }

        /** half = (counts[:-1] + counts[1:]) / 2; below = counts[0] / 2 +
         *  [0, cumsum(half[:-1])]; ends = below + half. */
        synchronized void brackets() {
            if (ends != null) return;
            int k = n - 1;
            double[] h = new double[k], w = new double[k], e = new double[k];
            for (int i = 0; i < k; i++) h[i] = (count[i] + count[i + 1]) / 2.0;
            double c0 = count[0] / 2.0, acc = 0.0;
            w[0] = c0;
            for (int i = 1; i < k; i++) {
                acc = i == 1 ? h[0] : acc + h[i - 1];
                w[i] = c0 + acc;
            }
            for (int i = 0; i < k; i++) e[i] = w[i] + h[i];
            half = h;
            below = w;
            ends = e;
        }

        /** np.searchsorted(mean, x, "right" if right else "left"), NaN last. */
        int search(double x, boolean right) {
            int lo = 0, hi = n;
            while (lo < hi) {
                int m = (lo + hi) >>> 1;
                boolean before = right
                    ? !DigestPartials.Digest.lt(x, mean[m])
                    : DigestPartials.Digest.lt(mean[m], x);
                if (before) lo = m + 1; else hi = m;
            }
            return lo;
        }
    }
}

/** Stage 2: each group's partials (*keys, salt, digest, n_rows) merged
 *  into one digest in ascending salt order, as _arrow_groups.merged merges
 *  them with MergingDigest.merge, then to_bytes.  Rows out: (*keys,
 *  [least salt,] digest, n_rows), the salt kept for a fan-in pass. */
public class DigestMerge implements MapFunction, FlatMapGroupsFunction {
    static final Integer NO_KEY = Integer.valueOf(0);

    final int nKeys;
    final boolean keepSalt;
    final double[] k1;   // {public compression, NumPy's K_1 sin/cos} or null

    public DigestMerge(Integer nKeys, Boolean keepSalt, double[] k1) {
        this.nKeys = nKeys.intValue();
        this.keepSalt = keepSalt.booleanValue();
        this.k1 = k1;
    }

    /** groupByKey(group key).flatMapSortedGroups(salt) over `partials`,
     *  whose columns are the keys (typed as in `keySchema`), the salt
     *  column `salt`, the digest and n_rows. */
    public Dataset apply(Dataset partials, StructType keySchema, StructType outSchema,
                         String salt) {
        Encoder keys = nKeys == 0 ? Encoders.INT() : Encoders.row(keySchema);
        return partials.groupByKey((MapFunction) this, keys).flatMapSortedGroups(
            new Column[] {functions.col(salt)}, (FlatMapGroupsFunction) this,
            Encoders.row(outSchema));
    }

    /** The group key of a partial: its keys folded as DigestPartials
     *  folds them (binary keys group by content in Spark). */
    public Object call(Object row) {
        if (nKeys == 0) return NO_KEY;
        Row r = (Row) row;
        Object[] kv = new Object[nKeys];
        for (int i = 0; i < nKeys; i++) kv[i] = DigestPartials.fold(r.get(i));
        return RowFactory.create(kv);
    }

    public Iterator call(Object key, Iterator rows) {
        DigestPartials.Digest out = null;
        Object salt = null;
        long nRows = 0;
        while (rows.hasNext()) {
            Row r = (Row) rows.next();
            CdfScorer.Blob b = CdfScorer.Blob.read((byte[]) r.get(nKeys + 1), k1);
            if (out == null) {
                // the merged digest takes the first partial's parameters
                out = new DigestPartials.Digest(b.params, new DigestPartials.Work());
                salt = r.get(nKeys);
            }
            out.addWeighted(b.mean, b.count, b.n, b.weight);
            if (!r.isNullAt(nKeys + 2)) nRows += r.getLong(nKeys + 2);
        }
        Object[] row = new Object[nKeys + (keepSalt ? 3 : 2)];
        for (int i = 0; i < nKeys; i++) row[i] = ((Row) key).get(i);
        int p = nKeys;
        if (keepSalt) row[p++] = salt;
        row[p++] = out.toBytes();
        row[p] = Long.valueOf(nRows);
        return Collections.singletonList(RowFactory.create(row)).iterator();
    }
}

/** tdigest_quantile(digest, q) and tdigest_cdf(digest, x): equal bit for
 *  bit to MergingDigest.from_bytes(digest).quantile(q) / .cdf(x).  NULL
 *  for a NULL digest, a NULL or NaN argument, and a NaN result (an empty
 *  digest).  A q outside [0,1] or an infinite x fails, as in the core.
 *  Each task parses a digest once, keyed by its bytes. */
public class DigestQuery implements UDF2 {
    static final int CACHED = 4096;

    final boolean cdf;
    transient HashMap parsed;

    public DigestQuery(Boolean cdf) {
        this.cdf = cdf.booleanValue();
    }

    String name() {
        return cdf ? "tdigest_cdf" : "tdigest_quantile";
    }

    /** This query as a Spark UDF returning double. */
    public UserDefinedFunction udf() {
        return functions.udf((UDF2) this, DataTypes.DoubleType).withName(name());
    }

    /** Register this query under its SQL name. */
    public void register(UDFRegistration registry) {
        registry.register(name(), (UDF2) this, DataTypes.DoubleType);
    }

    public Object call(Object digest, Object arg) {
        if (digest == null || arg == null) return null;
        double a = ((Number) arg).doubleValue();
        if (a != a) return null;
        CdfScorer.Cdf d = parse((byte[]) digest);
        double r = cdf ? d.cdf(a) : d.quantile(a);
        return r != r ? null : Double.valueOf(r);
    }

    synchronized CdfScorer.Cdf parse(byte[] digest) {
        if (parsed == null) parsed = new HashMap();
        ByteBuffer key = ByteBuffer.wrap(digest);
        CdfScorer.Cdf d = (CdfScorer.Cdf) parsed.get(key);
        if (d == null) {
            if (parsed.size() == CACHED) parsed.clear();
            d = CdfScorer.Cdf.parse(digest);
            parsed.put(key, d);
        }
        return d;
    }
}
"""

_LOCK = threading.Lock()
#: (applicationId, startTime) of a SparkContext -> the class loader that
#: holds the compiled source in it
_LOADED: dict[tuple, object] = {}


def cache_dir() -> str:
    """Where compiled kernels are kept, one jar per source hash: a
    directory of the system temp dir private to the current user."""
    return os.path.join(tempfile.gettempdir(), f"tdigest_spark-jvm-{os.getuid()}")


def _trusted(root: str) -> bool:
    """Whether `root` is a real directory (not a symlink) that the current
    user owns and no other user can write.  A jar found there is code the
    driver will run; in a sticky shared temp dir such a directory cannot
    be renamed or re-pointed by anyone else."""
    st = os.lstat(root)
    return (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & 0o022
    )


def _compile(spark, source: str) -> bytes:
    """The jar bytes of `source`, compiled by Janino in the driver JVM."""
    jvm = spark.sparkContext._jvm
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.cook(source)
    classes = compiler.getBytecodes()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as jar:
        for name in sorted(classes.keySet()):
            jar.writestr(name.replace(".", "/") + ".class", bytes(classes.get(name)))
    return buf.getvalue()


def kernel_jar(spark, source: str = JAVA_SOURCE) -> str:
    """Path of the jar holding `source` compiled, compiling it on a cache
    miss.  The file name carries the source's sha256, so a changed source
    never reuses a stale jar.  When the shared cache directory is not
    trusted (see `_trusted`), the jar is compiled into a fresh private
    directory instead."""
    sha = hashlib.sha256(source.encode()).hexdigest()
    root = cache_dir()
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        trusted = _trusted(root)
    except OSError:
        trusted = False
    if not trusted:
        root = tempfile.mkdtemp(prefix="tdigest_spark-jvm-")
    path = os.path.join(root, f"tdigest-kernel-{sha[:32]}.jar")
    if not os.path.exists(path):
        data = _compile(spark, source)
        part = f"{path}.{os.getpid()}.{threading.get_ident()}.part"
        with open(part, "wb") as f:
            f.write(data)
        os.replace(part, path)  # atomic: concurrent drivers never see half a jar
    return path


def kernel_class(spark, name: str = CLASS_NAME):
    """The class `name` of the compiled source, loaded through the
    session's jar class loader.  The jar is added (``ADD JAR``) once per
    SparkContext: a new context, as after ``spark.stop()``, adds it again
    before first use."""
    sc = spark.sparkContext
    ctx = (sc.applicationId, sc.startTime)
    with _LOCK:
        loader = _LOADED.get(ctx)
        if loader is None:
            spark.sql(f"ADD JAR '{kernel_jar(spark)}'")
            loader = _LOADED[ctx] = spark._jsparkSession.sharedState().jarClassLoader()
    return loader.loadClass(name)


def _jarray(sc, jtype, values):
    out = sc._gateway.new_array(jtype, len(values))
    for i, v in enumerate(values):
        out[i] = v
    return out


def _k1_sin_cos(compression: float) -> list[float]:
    scale = get_scale("K_1")
    c = 1.0 / scale.normalizer(compression, 0.0)
    assert c < np.pi / 2  # compression >= 10 keeps K_1's angle algebra valid
    return [float(np.sin(c)), float(np.cos(c))]


def digest_partials(
    sdf: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
    fields: str,
    delta: float,
    scale: str,
    per_column: bool,
) -> DataFrame:
    """Run the kernel over `sdf`, whose columns are `keys` then the double
    columns `value_cols`.  Output rows, per group of each partition:
    (*keys, [col,] partition id, digest, n_rows): the `keys` columns as
    typed in `sdf`, then `fields` (DDL).

    `per_column=False` (one value column): every group seen emits a row,
    even one whose values were all NULL/NaN.  `per_column=True`: one row
    per (group, column) that received a value, named in the col field."""
    spark = sdf.sparkSession
    sc = spark.sparkContext
    proto = MergingDigest(delta, scale=get_scale(scale))
    code = SCALE_CODES[proto.scale.name]
    sin_cos = (
        _k1_sin_cos(proto.private_compression) + _k1_sin_cos(proto.public_compression)
        if code == 1 else [0.0] * 4
    )
    jvm = sc._jvm
    args = [
        len(keys), len(value_cols),
        _jarray(sc, jvm.java.lang.String, value_cols) if per_column else None,
        proto.public_compression, proto.private_compression, proto.max_size,
        code, _jarray(sc, jvm.double, sin_cos),
    ]
    fn = kernel_class(spark).getConstructors()[0].newInstance(
        _jarray(sc, jvm.java.lang.Object, args)
    )
    schema, _ = _out_schema(sdf, list(keys), fields)
    jdf = sdf._jdf.mapPartitions(fn, jvm.org.apache.spark.sql.Encoders.row(_jtype(sc, schema)))
    return _tag_delta(ClassicDataFrame(jdf, spark), proto.public_compression)


def _jtype(sc, dtype):
    return sc._jvm.org.apache.spark.sql.types.DataType.fromJson(dtype.json())


def _tag_delta(sdf: DataFrame, delta: float | None) -> DataFrame:
    """`sdf` with its digest column's metadata naming `delta` (if any)."""
    if delta is None:
        return sdf
    return sdf.withColumn(
        "digest", F.col("digest").alias("digest", metadata={DELTA_META: delta})
    )


def digest_merge(
    partials: DataFrame, keys: Sequence[str], salt: str, keep_salt: bool
) -> DataFrame:
    """`DigestMerge` over `partials`: one row per group of `keys`, (*keys,
    [least `salt`,] digest, n_rows), its digest the group's partials
    merged in ascending `salt` order.  When the digest column's metadata
    names the compression the kernel built it at, a K_1 merge at that
    compression uses the build's NumPy sin/cos; any other K_1 merge uses
    StrictMath's, which can differ from NumPy's in the last ulp."""
    spark = partials.sparkSession
    sc = spark.sparkContext
    jvm = sc._jvm
    keys = list(keys)
    delta = partials.schema["digest"].metadata.get(DELTA_META)
    k1 = None
    if delta is not None:
        proto = MergingDigest(delta, scale="K_1")
        k1 = _jarray(sc, jvm.double, [
            proto.public_compression,
            *_k1_sin_cos(proto.private_compression),
            *_k1_sin_cos(proto.public_compression),
        ])
    fields = f"{salt} int, digest binary, n_rows long" if keep_salt else "digest binary, n_rows long"
    schema, _ = _out_schema(partials, keys, fields)
    key_schema = StructType(schema.fields[: len(keys)])
    fn = kernel_class(spark, MERGE_CLASS).getConstructors()[0].newInstance(
        _jarray(sc, jvm.java.lang.Object, [len(keys), keep_salt, k1])
    )
    jdf = fn.apply(
        partials.select(*keys, salt, "digest", "n_rows")._jdf,
        _jtype(sc, key_schema), _jtype(sc, schema), salt,
    )
    return _tag_delta(ClassicDataFrame(jdf, spark), delta)


def collect_rows(sdf: DataFrame, limit: int):
    """The first `limit` rows of `sdf`, collected into the driver JVM: a
    py4j proxy of a ``Row[]``, whose rows never cross to Python."""
    return sdf.limit(limit)._jdf.collect()


def cdf_scorer(spark, rows, n_keys: int):
    """(scorer, broadcast): a `CdfScorer` over `rows` (a ``Row[]`` of
    `n_keys` key columns, then a digest column), which travel to the
    executors as the JVM broadcast returned next to it, not inside the
    UDF.  The caller releases the broadcast."""
    sc = spark.sparkContext
    bc = sc._jsc.broadcast(rows)
    scorer = kernel_class(spark, SCORER_CLASS).getConstructors()[0].newInstance(
        _jarray(sc, sc._jvm.java.lang.Object, [bc, n_keys])
    )
    return scorer, bc


def apply_udf(spark, judf, cols: Sequence[Column]) -> Column:
    """The JVM ``UserDefinedFunction`` `judf` applied to `cols`."""
    return ClassicColumn(judf.apply(_to_seq(spark.sparkContext, [c._jc for c in cols])))


def digest_query(spark, cdf: bool):
    """A `DigestQuery`: tdigest_cdf if `cdf`, else tdigest_quantile."""
    sc = spark.sparkContext
    return kernel_class(spark, QUERY_CLASS).getConstructors()[0].newInstance(
        _jarray(sc, sc._jvm.java.lang.Object, [cdf])
    )

"""Guard the oracle battery's exact-regime constants against the data.

The hash-exact driver oracles rely on *regime* constants: t-digest deltas
above the largest group (singleton regime -> rank-exact quantiles), KLL
capacity above the largest group (zero compactions), KMV capacity above
the distinct-user count (exact set algebra).  Those are sized for the
LARGEST testdata scale (sf0.1) — but the driver can regenerate the
parquet between rounds, silently growing a group past its constant and
flipping a dozen queries into the approximate regime (this exact failure
happened in round 3: a testdata refresh pushed the `en` lang group from
218 to 2059 rows past DOCS_DELTA=500).

This test recomputes every group-size bound with DuckDB against whatever
parquet is actually on disk, for every sf dir present, and asserts each
constant still clears it with margin.  Pure DuckDB — no Spark session —
so it runs in milliseconds and fails loudly BEFORE the correctness gate
would.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tdigest_spark import queries as Q

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

pytestmark = pytest.mark.skipif(not SF_DIRS, reason="driver testdata absent")

# singleton regime holds comfortably at delta >= 2n (empirically exact at
# delta slightly above n; 2x is the documented safety margin)
MARGIN = 2.0


def _one(con, sql):
    return con.sql(sql).fetchone()[0]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_exact_regime_constants_dominate_data(sf_dir):
    con = duckdb.connect()
    docs = f"'{sf_dir}/documents.parquet'"
    ev = f"'{sf_dir}/events.parquet'"

    max_lang = _one(
        con, f"SELECT max(c) FROM (SELECT count(*) c FROM {docs} GROUP BY lang)"
    )
    max_type = _one(
        con, f"SELECT max(c) FROM (SELECT count(*) c FROM {ev} GROUP BY event_type)"
    )
    max_type_day = _one(
        con,
        f"SELECT max(c) FROM (SELECT count(*) c FROM {ev} "
        "GROUP BY event_type, date_trunc('day', ts))",
    )
    max_lang_src = _one(
        con,
        f"SELECT max(c) FROM (SELECT count(*) c FROM {docs} GROUP BY lang, source)",
    )
    distinct_users = _one(con, f"SELECT count(DISTINCT user_id) FROM {ev}")

    assert Q.DOCS_DELTA >= MARGIN * max_lang, (
        f"DOCS_DELTA={Q.DOCS_DELTA} vs max lang group {max_lang} at {sf_dir}"
    )
    assert Q.EVENTS_DELTA >= MARGIN * max_type, (
        f"EVENTS_DELTA={Q.EVENTS_DELTA} vs max event_type group {max_type}"
    )
    assert Q.EVENTS_DAY_DELTA >= MARGIN * max_type_day, (
        f"EVENTS_DAY_DELTA={Q.EVENTS_DAY_DELTA} vs max (type, day) group "
        f"{max_type_day}"
    )
    assert Q.AGG_SQL_DELTA >= MARGIN * max_lang_src, (
        f"AGG_SQL_DELTA={Q.AGG_SQL_DELTA} vs max (lang, source) group "
        f"{max_lang_src}"
    )
    # KLL stays uncompacted while stored <= k (exactly; keep 2x margin)
    assert Q.KLL_EXACT_K >= MARGIN * max_lang, (
        f"KLL_EXACT_K={Q.KLL_EXACT_K} vs max lang group {max_lang}"
    )
    # KMV set algebra is exact only below capacity
    assert Q.KMV_K >= MARGIN * distinct_users, (
        f"KMV_K={Q.KMV_K} vs {distinct_users} distinct users"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_singleton_regime_holds_on_actual_lang_groups(sf_dir):
    """End-to-end regime check: build the by-lang digest configuration the
    oracles use over the ACTUAL largest lang group and assert every
    centroid is still a singleton (weight 1)."""
    import numpy as np

    from tdigest_spark.core import MergingDigest

    con = duckdb.connect()
    vals = (
        con.sql(
            f"SELECT CAST(n_chars AS DOUBLE) FROM '{sf_dir}/documents.parquet' "
            "WHERE lang = (SELECT lang FROM (SELECT lang, count(*) c FROM "
            f"'{sf_dir}/documents.parquet' GROUP BY lang ORDER BY c DESC LIMIT 1))"
        )
        .fetchnumpy()["CAST(n_chars AS DOUBLE)"]
        .astype(np.float64)
    )
    d = MergingDigest(Q.DOCS_DELTA)
    # partitioned build: chunked adds + a merge pass, like the Spark path
    for chunk in np.array_split(vals, 8):
        d.add(chunk)
    d.compress()
    assert (np.asarray(d.counts) == 1).all(), (
        f"non-singleton centroid over {len(vals)} rows at DOCS_DELTA="
        f"{Q.DOCS_DELTA} ({sf_dir})"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ann_constants_match_embeddings_table(sf_dir):
    """The ANN oracles pin structural constants to the embeddings table:
    EMB_DIM must equal the actual vector width (the JL matrix, LSH
    hyperplanes, and PQ subspace slicing are all literal in that width),
    the PQ codebook needs vec_id 0..PQ_KSUB-1 present, EMB_DIM divisible
    by PQ_NSUB, and the deterministic centroid/query selectors must be
    non-empty."""
    con = duckdb.connect()
    emb = f"'{sf_dir}/embeddings.parquet'"
    dim = _one(con, f"SELECT min(len(embedding)) FROM {emb}")
    dim_max = _one(con, f"SELECT max(len(embedding)) FROM {emb}")
    assert dim == dim_max == Q.EMB_DIM, (
        f"EMB_DIM={Q.EMB_DIM} vs actual width [{dim}, {dim_max}] at {sf_dir}"
    )
    assert Q.EMB_DIM % Q.PQ_NSUB == 0
    cb_ids = _one(
        con,
        f"SELECT count(DISTINCT vec_id) FROM {emb} WHERE vec_id < {Q.PQ_KSUB}",
    )
    assert cb_ids == Q.PQ_KSUB, (
        f"PQ codebook needs vec_id 0..{Q.PQ_KSUB - 1}; found {cb_ids}"
    )
    n_cents = _one(
        con, f"SELECT count(*) FROM {emb} WHERE vec_id % {Q.IVF_CENT_MOD} = 1"
    )
    n_queries = _one(
        con, f"SELECT count(*) FROM {emb} WHERE vec_id % {Q.ANN_QUERY_MOD} = 0"
    )
    assert n_cents >= Q.IVF_NPROBE, n_cents
    assert n_queries >= 1, n_queries
    nulls = _one(con, f"SELECT count(*) FROM {emb} WHERE embedding IS NULL")
    assert nulls == 0, f"{nulls} NULL embeddings at {sf_dir}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_bpe_segmentation_alphabet_is_engine_neutral(sf_dir):
    """bpe_merge_candidates' oracle equates DuckDB substr/length character
    semantics with Spark's split(w, '') code-point segmentation.  Both are
    code-point based (fuzzed in round 4 over combining marks, astral
    emoji, ZWJ, ligatures — all parity), but the equivalence is a DATA
    property worth re-proving against whatever words the driver actually
    regenerated: for every distinct word on disk, DuckDB's (length,
    per-index substr) must equal Python's code-point view (Python strings
    are code-point sequences, the same segmentation Spark's split('')
    produces).  Fails loudly in pytest before the driver gate would."""
    con = duckdb.connect()
    words = [
        w
        for (w,) in con.execute(
            "SELECT DISTINCT unnest(list_filter(string_split(text, ' '), "
            f"tk -> tk != '')) AS w FROM '{sf_dir}/documents.parquet' "
            "WHERE text IS NOT NULL"
        ).fetchall()
        if w
    ]
    assert words, f"no words at {sf_dir}"
    bad = []
    for w in words:
        row = con.execute(
            "SELECT length(?), list_transform(range(1, length(?) + 1), "
            "i -> substr(?, CAST(i AS INT), 1))",
            [w, w, w],
        ).fetchone()
        if row[0] != len(w) or row[1] != list(w):
            bad.append((w, row))
    assert not bad, f"DuckDB/code-point segmentation diverges: {bad[:5]}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_gram_quantization_cannot_overflow_int64(sf_dir):
    """gram_embeddings sums qv_a * qv_b over all vectors per (i, j) with
    qv = floor(x * 2^20) as BIGINT on both engines; the oracle now CASTs
    the final sum to BIGINT (driver fetch mangles int128), so the sum
    must actually FIT in int64 on the data at hand: n_rows * max|qv|^2
    < 2^63 with margin."""
    con = duckdb.connect()
    emb = f"'{sf_dir}/embeddings.parquet'"
    n, amax = con.execute(
        f"SELECT count(*), max(abs(x)) FROM (SELECT "
        f"unnest(CAST(embedding AS DOUBLE[])) AS x FROM {emb})"
    ).fetchone()
    qmax = abs(int(amax * 1048576.0)) + 1
    assert n * qmax * qmax < 2**62, (
        f"gram sum bound {n * qmax * qmax} approaches int64 at {sf_dir}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_semantic_dedup_cells_stay_under_max_cell(sf_dir):
    """q_semantic_dedup leaves the operator's max_cell safety guard at its
    default (20k), and its DuckDB oracle has NO corresponding cap — so the
    two diverge the moment a regenerated embeddings table grows a cell
    past the cap (over-cap cells come back keep=True on the Spark side
    only).  Recompute per-cell counts with the oracle's own assignment CTE
    and assert the biggest cell clears the cap with the 2x margin."""
    import inspect

    from tdigest_spark.operators.similarity import semantic_dedup

    default_cap = inspect.signature(semantic_dedup).parameters["max_cell"].default
    if default_cap is None:
        return
    emb = f"'{sf_dir}/embeddings.parquet'"
    con = duckdb.connect()
    max_cell_n = _one(
        con,
        f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {emb}
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01)
  FROM {emb} WHERE vec_id % {Q.EMB_SCALE_MOD} = 0
),
cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM {emb} WHERE vec_id % {Q.IVF_CENT_MOD} = 1),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT base.vec_id, cents.cid,
           row_number() OVER (PARTITION BY base.vec_id
                              ORDER BY list_cosine_similarity(base.v, cents.cv) DESC,
                                       cents.cid ASC) AS rk
    FROM base CROSS JOIN cents
  ) WHERE rk = 1
)
SELECT max(c) FROM (SELECT count(*) AS c FROM assigned GROUP BY cell)
""",
    )
    assert default_cap >= MARGIN * max_cell_n, (
        f"semantic_dedup max_cell={default_cap} vs biggest actual cell "
        f"{max_cell_n} at {sf_dir} — the oracle has no cap, fix the query"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_truncation_constants_stay_below_min_doc_length(sf_dir):
    """lsh_incremental_dedup (n_chars - 20) and similarity_join
    (n_chars - SIMJOIN_TRUNC) build their recrawl slices by truncating
    text; a regenerated corpus with a doc SHORTER than the truncation
    yields an empty-string slice whose shingle/minhash path is the one
    spot the Spark and DuckDB formulations were never proven equal on.
    Keep a small absolute slack above the largest truncation."""
    con = duckdb.connect()
    min_chars = _one(
        con, f"SELECT min(n_chars) FROM '{sf_dir}/documents.parquet'"
    )
    biggest_trunc = max(20, Q.SIMJOIN_TRUNC)
    assert min_chars >= biggest_trunc + 5, (
        f"min n_chars {min_chars} at {sf_dir} within {biggest_trunc}+5 of "
        "the recrawl truncation — empty-slice parity is unproven"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_sliding_window_groups_stay_in_singleton_regime(sf_dir):
    """windowed_digest_sliding's 24h windows are OFFSET from calendar
    days (12h slide), so a traffic pattern concentrated across midnight
    could make an offset window up to ~2x the largest calendar-day group
    the main bound checks.  Recompute the actual max offset-window group
    with the oracle's own pane formula."""
    con = duckdb.connect()
    max_win = _one(
        con,
        f"""
WITH panes AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 43200) * 43200 AS BIGINT) - 43200 * k.k
           AS window_start
  FROM '{sf_dir}/events.parquet' CROSS JOIN (VALUES (0), (1)) k(k)
)
SELECT max(c) FROM (
  SELECT count(*) AS c FROM panes GROUP BY event_type, window_start
)
""",
    )
    assert Q.EVENTS_DAY_DELTA >= MARGIN * max_win, (
        f"EVENTS_DAY_DELTA={Q.EVENTS_DAY_DELTA} vs max sliding-window "
        f"group {max_win} at {sf_dir}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_stream_columns_have_no_nulls(sf_dir):
    """The streaming oracles (windowed_digest_events/sliding,
    windowed_hll_events) take n_rows as count(*) and index the sorted
    value list with it, and put a NULL ts in a NULL window; the Spark
    digest skips NULL values and a NULL ts falls in no window.  A NULL
    value, ts or user_id would make the two sides disagree only on
    regenerated data, so pin zero NULLs in every sf dir."""
    con = duckdb.connect()
    nulls = con.sql(
        f"SELECT count(*) - count(value), count(*) - count(ts), "
        f"count(*) - count(user_id) FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    assert nulls == (0, 0, 0), (
        f"NULL (value, ts, user_id) counts {nulls} at {sf_dir} — the "
        "streaming oracles assume none"
    )

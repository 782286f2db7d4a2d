"""Deterministic Common-Crawl-style web-pages table (BASELINE.json input_hint).

Schema: (url string, warc_ts timestamp, html binary, text string, lang string)

Every column is a pure function of the row id via splitmix64-style integer
mixing, so the table is byte-identical across runs, partitionings, and
cluster sizes — `text` for a given `url` is reproducible bit-for-bit (the
per-row invariant: byte-identical extracted text per url, verified by
sha256 in tests).  Generation is vectorized: spark.range drives ids and
mapInPandas emits Arrow batches; the only per-row Python is string slicing.

`lang` is Zipf-skewed (en-heavy) on purpose: it exercises the map-side
digest build's skew split (a hot group spread over every input split).  `html` is a deterministic wrapper around `text` and
`extract_text(html)` inverts it exactly.

The table is written as a partitioned parquet layout (hive-style
`crawl_date=` directories — the same physical layout an Iceberg
identity-partitioned table produces).  An actual Iceberg catalog needs
iceberg-spark-runtime on the classpath, which this image doesn't ship;
`read_webpages` falls back to plain parquet and the operator algebra is
identical either way.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

GLOBAL_SEED = np.uint64(0x5EED_CAFE_F00D_D00D)

# Zipf-ish language mix: en-heavy skew (~60%): one hot digest group
LANGS = ["en", "ru", "de", "zh", "es", "fr", "ja", "pt", "it", "nl", "pl", "tr"]
_LANG_WEIGHTS = np.array([60, 9, 7, 6, 5, 4, 3, 2, 1.5, 1, 0.8, 0.7])
_LANG_CUM = np.cumsum(_LANG_WEIGHTS / _LANG_WEIGHTS.sum())

_SITES = ["news", "blog", "shop", "wiki", "forum", "docs", "video", "mail"]

# per-language word stock: deterministic word soup with language-marker
# stopwords so the lang-id heuristic has signal
_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "ru": ["i", "v", "ne", "na", "chto", "eto", "kak", "po"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "zh": ["de", "shi", "le", "zai", "you", "wo", "ta", "zhe"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "une"],
    "ja": ["no", "ni", "wa", "wo", "ga", "to", "da", "suru"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "una"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "op"],
    "pl": ["w", "i", "na", "z", "do", "sie", "nie", "jest"],
    "tr": ["bir", "ve", "bu", "da", "ne", "icin", "ile", "gibi"],
}


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 avalanche."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _h(ids: np.ndarray, stream: int) -> np.ndarray:
    return _mix64(ids.astype(np.uint64) ^ (GLOBAL_SEED + np.uint64(stream) * np.uint64(0x9E37)))


def _make_corpus(lang: str, n_words: int = 200_000) -> str:
    """Deterministic word soup for one language, markers interleaved.

    Fully vectorized (this runs once per language per Python worker; a
    scalar loop here dominated generation throughput): random words are
    materialized as a padded uint8 char matrix decoded in one shot, then
    ~25% are replaced by language-marker stopwords.
    """
    # lang-derived stream offset must not depend on PYTHONHASHSEED
    lang_tag = int.from_bytes(lang.encode()[:2].ljust(2, b"_"), "little")
    ids = np.arange(n_words, dtype=np.uint64) ^ np.uint64(lang_tag)
    h1 = _h(ids, 101)
    h2 = _h(ids, 102)
    markers = _MARKERS[lang]

    max_len = 10  # lens max 9 + at least one pad space per row
    lens = (3 + (h1 % np.uint64(7))).astype(np.int64)  # in [3, 9]
    char_h = _h(
        ids[:, None] + np.arange(max_len, dtype=np.uint64)[None, :] + np.uint64(7919),
        103,
    )
    chars = (97 + (char_h % np.uint64(26))).astype(np.uint8)
    padded = np.where(np.arange(max_len)[None, :] < lens[:, None], chars, 32)
    words = padded.tobytes().decode("ascii").split()
    assert len(words) == n_words

    is_marker = (h2 % np.uint64(4)) == 0
    midx = (h1 % np.uint64(len(markers))).astype(np.int64)
    for i in np.nonzero(is_marker)[0]:
        words[i] = markers[midx[i]]
    return " ".join(words)


_CORPUS_CACHE: dict[str, str] = {}


def _corpus(lang: str) -> str:
    if lang not in _CORPUS_CACHE:
        _CORPUS_CACHE[lang] = _make_corpus(lang)
    return _CORPUS_CACHE[lang]


WEBPAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _gen_batch(ids: np.ndarray) -> pd.DataFrame:
    uids = ids.astype(np.uint64)
    hl = _h(uids, 1)  # lang selector
    hs = _h(uids, 2)  # site
    ht = _h(uids, 3)  # timestamp
    ha = _h(uids, 4)  # text offset
    hn = _h(uids, 5)  # text length

    lang_u = (hl % np.uint64(1_000_000)).astype(np.float64) / 1e6
    lang_idx = np.searchsorted(_LANG_CUM, lang_u, side="right")
    lang_idx = np.clip(lang_idx, 0, len(LANGS) - 1)

    # doc length in chars: lognormal-ish, median ~800, heavy tail
    u = ((hn >> np.uint64(11)) % np.uint64(1_000_000)).astype(np.float64) / 1e6
    z = np.sqrt(-2.0 * np.log(np.clip(u, 1e-9, 1))) * np.cos(
        2 * np.pi * ((hn % np.uint64(1_000_000)).astype(np.float64) / 1e6)
    )
    lengths = np.clip(np.exp(6.6 + 0.9 * z), 80, 60_000).astype(np.int64)

    ts = np.datetime64("2024-01-01T00:00:00") + (
        ht % np.uint64(365 * 24 * 3600)
    ).astype("timedelta64[s]")

    urls = []
    texts = []
    htmls = []
    langs = []
    for i in range(len(ids)):
        lang = LANGS[int(lang_idx[i])]
        site = _SITES[int(hs[i] % np.uint64(len(_SITES)))]
        url = f"https://{site}-{int(hs[i] % np.uint64(97))}.{lang}.example/p/{int(ids[i])}"
        corpus = _corpus(lang)
        ln = int(lengths[i])
        a = int(ha[i] % np.uint64(max(len(corpus) - ln - 1, 1)))
        # word-align the slice start
        sp = corpus.find(" ", a)
        a = sp + 1 if 0 <= sp < a + 40 else a
        text = corpus[a : a + ln]
        title = f"{site} {int(ids[i])}"
        html = (
            f"<html><head><title>{title}</title></head><body><p>".encode()
            + text.encode("utf-8")
            + b"</p></body></html>"
        )
        urls.append(url)
        texts.append(text)
        htmls.append(html)
        langs.append(lang)

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(ts),
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def generate_webpages(
    spark: SparkSession, n_docs: int, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""
    if partitions is None:
        partitions = max(int(spark.sparkContext.defaultParallelism), 1)
    rng = spark.range(0, n_docs, numPartitions=partitions)

    # build the per-language word pools once on the driver and broadcast
    # them: rebuilding ~2 MB pools in every Python worker dominated
    # generation time
    pools = {lang: _corpus(lang) for lang in LANGS}
    bc = spark.sparkContext.broadcast(pools)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _CORPUS_CACHE.update(bc.value)
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf["id"].to_numpy())

    return rng.mapInPandas(gen, schema=WEBPAGES_SCHEMA)


def write_webpages(
    spark: SparkSession, n_docs: int, path: str, partitions: int | None = None
) -> None:
    """Materialize in an Iceberg-style identity-partitioned layout
    (hive dirs by crawl_date)."""
    df = generate_webpages(spark, n_docs, partitions)
    (
        df.withColumn("crawl_month", F.date_format("warc_ts", "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("crawl_month")
        .parquet(path)
    )


def read_webpages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def extract_text(html: bytes) -> str:
    """Exact inverse of the html wrapper (per-row invariant: byte-identical
    text per url)."""
    start = html.index(b"<p>") + 3
    end = html.rindex(b"</p>")
    return html[start:end].decode("utf-8")


def extract_text_column(df: DataFrame, html_col: str = "html") -> DataFrame:
    """`extract_text` over the binary column as a scalar Arrow UDF (one
    Python call per Arrow batch): the Python reference that
    `extract_text_jvm` matches byte for byte, and the lane for extraction
    logic that needs Python."""

    def _extract(h: pa.Array) -> pa.Array:
        return pa.array(
            [None if b is None else extract_text(b) for b in h.to_pylist()],
            type=pa.string(),
        )

    return df.withColumn(
        "extracted_text", F.arrow_udf(_extract, "string")(F.col(html_col))
    )


WRAPPER_SUFFIX = "</p></body></html>"  # fixed tail emitted by the generator


def extract_text_jvm(html_col="html", fixed_suffix: str | None = WRAPPER_SUFFIX):
    """Pure-JVM extraction column: the text between the FIRST '<p>' and the
    LAST '</p>' of the html (the same first-index/rindex slice as
    extract_text — byte-identical for any valid-UTF-8 page containing both
    markers, asserted by tests/test_webpages.py).

    Why it exists: shipping html blobs into Python makes the flagship
    pipeline Arrow-bandwidth-bound (html is ~95% of the bytes).  Marker
    slicing is fixed-string arithmetic, so Catalyst runs it inside
    whole-stage codegen, and with `build_partials_grouped` over its
    length no row reaches Python at all.  `extract_text` /
    `extract_text_column` remain for extraction logic that genuinely
    needs Python (a real HTML parser).

    Two paths:
    - `fixed_suffix` given (default: the generator's wrapper): the last
      '</p>' is the one opening the suffix, so its position is plain
      length arithmetic — no backward scan, no extra string allocation
      beyond the extracted slice.  Rows not ending in the suffix fall out
      as NULL (checked with endswith).
    - `fixed_suffix=None`: generic last-occurrence via instr on the
      reversed string (if reverse(html) has '>p/<' at 1-based position p,
      the marker starts at character L-p-2).  ~3x more per-row work
      (reverse allocates a full copy) — measured 81k vs 240k docs/s on the
      4M-doc corpus — so prefer the arithmetic path whenever the table's
      wrapper is contractual.
    """
    h = F.col(html_col).cast("string") if isinstance(html_col, str) else html_col.cast("string")
    first = F.instr(h, "<p>")
    start = first + 3
    if fixed_suffix is not None:
        if not fixed_suffix.startswith("</p>"):
            raise ValueError("fixed_suffix must begin with the closing '</p>'")
        # '</p>' starts at char L - len(suffix) + 1 (1-based)
        ln = F.length(h) - F.lit(len(fixed_suffix)) + 1 - start
        return F.when(
            (first > 0) & h.endswith(fixed_suffix), F.substring(h, start, ln)
        ).otherwise(F.lit(None).cast("string"))
    rpos = F.instr(F.reverse(h), ">p/<")
    ln = F.length(h) - rpos - first - 5
    return F.when(
        (first > 0) & (rpos > 0), F.substring(h, start, ln)
    ).otherwise(F.lit(None).cast("string"))

"""Text-analysis operators for LLM training-data pipelines
(SURVEY.md §2B B59 + north-star: language-ID, quality scoring, token
counting, document fingerprinting).

Everything row-local → embarrassingly parallel, no shuffle, whole-stage
codegen. These are the per-document scoring passes that run over an
entire corpus before dedup/filtering; at 100 TB they are scan-bound, so
staying JVM-side (no Python UDFs) is the whole game.
"""

from __future__ import annotations



from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators._util import bounded_part, per_gateway
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

# BPE-ish token pattern: letter runs | digit runs | single punctuation.
# Wrapped in a group: Spark's regexp_extract_all extracts group 1.
_TOKEN_RE = "([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ])"

# marker-word sets for the n-gram/stopword language heuristic
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "code": ("table", "query", "join"),
    "data": ("row", "value", "batch"),
}


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_text_stats",
    oracle="""
SELECT
  doc_id,
  lang,
  source,
  n_chars,
  length(text) AS text_len,
  len(string_split(text, ' ')) AS n_words,
  len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
  CASE WHEN length(text) > 0 THEN
    round((length(text) - length(replace(text, ' ', '')))
          * 1.0 / length(text), 6)
  END AS space_ratio
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (B59): lengths, word counts,
    vocabulary size, whitespace ratio. Empty text → NULL ratio (an
    ANSI-mode divide-by-zero otherwise; same CASE guard in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    tlen = F.length("text")
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        tlen.alias("text_len"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.when(
            tlen > 0,
            F.round(
                (tlen - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
                * F.lit(1.0)
                / tlen,
                6,
            ),
        ).alias("space_ratio"),
    )


@query(
    "q_text_lang",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['en'])}, w))) AS s_en,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['code'])}, w))) AS s_code,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['data'])}, w))) AS s_data
  FROM documents
)
SELECT doc_id, labeled_lang, s_en, s_code, s_data,
  CASE
    WHEN s_en >= s_code AND s_en >= s_data THEN 'en'
    WHEN s_code >= s_data THEN 'code'
    ELSE 'data'
  END AS pred_lang
FROM scored
""",
)
def q_text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language/domain identification (north-star text op).

    The classic scalable lang-ID shape: count hits against tiny marker
    vocabularies (broadcast-size), argmax — one pass, row-local. (The
    fixture corpus is synthetic word-soup, so the heuristic classifies
    deterministically rather than agreeing with the ``lang`` label —
    both engines apply the identical rule, which is what the oracle
    checks.)
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def score(markers):
        marker_arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))

    s_en = score(_LANG_MARKERS["en"])
    s_code = score(_LANG_MARKERS["code"])
    s_data = score(_LANG_MARKERS["data"])
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s_en.alias("s_en"),
        s_code.alias("s_code"),
        s_data.alias("s_data"),
        F.when((s_en >= s_code) & (s_en >= s_data), "en")
        .when(s_code >= s_data, "code")
        .otherwise("data")
        .alias("pred_lang"),
    )


@query(
    "q_text_quality",
    oracle="""
WITH t AS (
  SELECT doc_id,
    string_split(text, ' ') AS w,
    length(text) AS tlen,
    len(string_split(text, ' ')) AS nw,
    len(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'in'], x))) AS n_stop
  FROM documents
)
SELECT doc_id,
  nw AS n_words,
  round((tlen - nw + 1) * 1.0 / nw, 6) AS mean_word_len,
  round(n_stop * 1.0 / nw, 6) AS stopword_ratio,
  len(list_distinct(w)) * 1.0 / nw >= 0.3 AS diverse,
  nw BETWEEN 20 AND 1000
    AND n_stop * 1.0 / nw BETWEEN 0.001 AND 0.6 AS passes_quality
FROM t
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (north-star text op): length bounds,
    mean word length, stopword ratio, lexical diversity → keep flag.
    The filter shape used to gate a pretraining corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *quality_exprs())


@per_gateway
def quality_exprs() -> tuple:
    """The quality-score columns as reusable row-local expressions —
    shared verbatim by the batch query (q_text_quality) and the
    streaming curation gate (streaming/curation.py), which is what
    makes batch/stream equivalence hold by construction.

    The Columns are built once per JVM gateway and every call returns
    the same tuple (``per_gateway``): the gate runs per micro-batch, and
    rebuilding these trees costs hundreds of py4j round trips per call."""
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "in")])
    nw = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop * F.lit(1.0) / nw
    return (
        nw.alias("n_words"),
        F.round((F.length("text") - nw + 1) * F.lit(1.0) / nw, 6).alias(
            "mean_word_len"
        ),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        (F.size(F.array_distinct(words)) * F.lit(1.0) / nw >= 0.3).alias("diverse"),
        (nw.between(20, 1000) & stop_ratio.between(0.001, 0.6)).alias(
            "passes_quality"
        ),
    )


@query(
    "q_text_tokens",
    oracle=f"""
SELECT
  doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '{_TOKEN_RE}')) AS bpe_ish_tokens,
  round(len(regexp_extract_all(text, '{_TOKEN_RE}')) * 1.0
        / len(string_split(text, ' ')), 6) AS tokens_per_word
FROM documents
""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star text op): whitespace tokens and a
    BPE-ish regex tokenizer (letter runs / digit runs / punctuation) —
    the cheap corpus-size estimator run before training jobs."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE)))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.round(bpe * F.lit(1.0) / ws, 6).alias("tokens_per_word"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
SELECT
  doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS content_fingerprint,
  md5(substr(text, 1, 64)) AS head_fingerprint
FROM documents
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (north-star text op):
    md5 over the sorted distinct vocabulary — robust to word reordering,
    the cheap canonical-form dedup key; plus a head fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    vocab = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
    )
    return d.select(
        "doc_id",
        F.md5(vocab.cast("binary")).alias("content_fingerprint"),
        F.md5(F.substring("text", 1, 64).cast("binary")).alias("head_fingerprint"),
    )


# Winnowing parameters: k=3-word shingles, window w=4 consecutive
# shingle hashes. Hash = signed 64-bit from md5's first 16 hex chars —
# the same cross-engine-reproducible formula as SimHash (see
# llm/dedup.py _MD5_H64_SQL).


def _winnow_hashes(textcol):
    """Ordered (non-distinct) 3-gram shingle hashes as nested bound
    lambdas: shingle strings via zip_with over slices, md5 hex bound
    ONCE per shingle by the outer transform (the SQL-text form this
    replaced re-split the text inside every element_at call and ran
    md5 twice per shingle — per-reference recompute, not sharing)."""
    w = F.split(textcol, " ")
    n = F.size(w)
    sh = F.when(
        n >= 3,
        F.zip_with(
            F.slice(w, 1, n - 2),
            F.zip_with(
                F.slice(w, 2, n - 2),
                F.slice(w, 3, n - 2),
                lambda b, c: F.concat_ws(" ", b, c),
            ),
            lambda a, bc: F.concat_ws(" ", a, bc),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.transform(sh, lambda s: F.md5(s.cast("binary"))),
        lambda m: F.shiftleft(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
        ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")),
    )


@query(
    "q_text_winnow",
    # Full cross-engine oracle: DuckDB recomputes the identical shingle
    # hashes and the trailing-window minima (window frame clips at the
    # tail exactly like Spark's slice()), then distinct-sorts the picks.
    oracle="""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
  FROM ws WHERE len(w) >= 3
),
hs AS (
  SELECT doc_id, i,
    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 16))::UBIGINT AS u,
    count(*) OVER (PARTITION BY doc_id) AS nh
  FROM sh0
),
hsx AS (
  SELECT doc_id, i, nh,
    CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
              THEN u::HUGEINT - 18446744073709551616::HUGEINT
              ELSE u::HUGEINT END AS BIGINT) AS h
  FROM hs
),
wins AS (
  SELECT doc_id, i, nh,
    min(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
  FROM hsx
)
SELECT DISTINCT doc_id, mh AS fingerprint
FROM wins WHERE i <= greatest(nh - 3, 1)
ORDER BY doc_id, fingerprint
""",
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash scheme, north-star text op):
    3-word shingle hashes, keep the min hash in each sliding window of
    4 — the standard local fingerprinting scheme for plagiarism/near-dup
    detection, one row per (doc, fingerprint).

    Pure built-in expression (the pandas-UDF formulation this replaced
    paid a Python worker for the same math): shingle-hash array → per-
    window ``array_min(slice(...))`` → distinct picks → explode. Map-
    only, zero shuffle at any scale; slice() clips at the array tail so
    short docs yield one whole-array window. Docs with < 3 words have
    no shingles and emit no rows.
    """
    d = load_table(spark, sf_dir, "documents")

    def picks(h):
        return F.when(F.size(h) == 0, F.array().cast("array<bigint>")).otherwise(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.size(h) - 3, F.lit(1))),
                        lambda i: F.array_min(F.slice(h, i, 4)),
                    )
                )
            )
        )

    # The hash array must be LET-BOUND (single-element transform trick):
    # as adjacent projections, CollapseProject inlines it into the picks
    # expression, whose window lambda references it per window position —
    # an O(n) md5 pass re-run O(n) times per row.
    bound = F.element_at(
        F.transform(
            F.array(F.struct(_winnow_hashes(F.col("text")).alias("hs"))),
            lambda s: picks(s["hs"]),
        ),
        1,
    )
    # One-file fixture corpus → one input partition; the shingle-hash
    # projection is CPU-bound, so spread it (same sizing rationale as
    # q_dedup_minhash). At 100 TB the input is many files already.
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    return (
        d.repartition(n_part)
        .select("doc_id", F.explode(bound).alias("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    )


@query(
    "q_text_scrub",
    oracle="""
WITH withpii AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@example.com or +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' id ' || (1000000 + doc_id) AS raw
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
      '\\+?1?-?555-[0-9]{4}', '<PHONE>', 'g'),
    '\\b[0-9]{7,}\\b', '<ID>', 'g') AS scrubbed,
  length(raw) - length(regexp_replace(raw,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'))
    AS email_chars_removed
FROM withpii
ORDER BY doc_id
""",
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / phone numbers / long numeric ids →
    placeholder tokens) — the redaction pass every training-data
    pipeline runs before tokenization.

    The fixture corpus is synthetic word soup, so deterministic PII is
    PLANTED from doc_id first (identically in the oracle), then
    scrubbed; the strict value-hash therefore proves the Java-regex and
    RE2 dialects agree on these patterns. Pure ``regexp_replace``
    chain: JVM codegen, no Python in the row path, trivially
    data-parallel at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" id "),
        (F.col("doc_id") + 1000000).cast("string"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?1?-?555-[0-9]{4}"
    longid = r"\b[0-9]{7,}\b"
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
        ),
        longid,
        "<ID>",
    )
    return (
        d.select(
            "doc_id",
            scrubbed.alias("scrubbed"),
            (
                F.length(raw) - F.length(F.regexp_replace(raw, email, ""))
            ).alias("email_chars_removed"),
        )
        .orderBy("doc_id")
    )


_CHUNK_TOKENS = 32   # tokens per chunk (model context slice)
_CHUNK_STRIDE = 24   # overlap = chunk - stride = 8 tokens


@query(
    "q_text_chunk",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks,
    unnest(generate_series(0,
      CAST(greatest(ceil((len(toks) - {_CHUNK_TOKENS}) / {_CHUNK_STRIDE}.0), 0)
        AS BIGINT))) AS chunk_idx
  FROM w
)
SELECT doc_id, chunk_idx,
  array_to_string(toks[chunk_idx * {_CHUNK_STRIDE} + 1 :
                       chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ')
    AS chunk_text,
  least(len(toks) - chunk_idx * {_CHUNK_STRIDE}, {_CHUNK_TOKENS}) AS n_tokens
FROM idx
ORDER BY doc_id, chunk_idx
""",
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (context-window slicing — the
    1→N document splitter feeding every LLM pretraining/RAG pipeline).

    Chunk starts step by the 24-token stride with 32-token windows
    (8-token overlap); the final partial window is kept (standard tail
    policy). Pure built-ins: split once → posexplode of
    the start grid → slice+concat per chunk. All codegen; the 1→N
    expansion is a Generate, no Python and no shuffle — chunking at
    100 TB is a map-only pass.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - _CHUNK_TOKENS) / float(_CHUNK_STRIDE)),
        F.lit(0),
    ).cast("long")
    starts = F.sequence(F.lit(0), n_chunks)
    return (
        d.select("doc_id", toks.alias("toks"), F.explode(starts).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
                    _CHUNK_TOKENS,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.size("toks") - F.col("chunk_idx").cast("int") * _CHUNK_STRIDE,
                F.lit(_CHUNK_TOKENS),
            ).alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


_MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.2}
_MIX_DEFAULT_FRACTION = 0.1  # strata not named in the config


def _mix_frac_col():
    frac_map = F.create_map(
        *[F.lit(x) for kv in _MIX_FRACTIONS.items() for x in kv]
    )
    return F.coalesce(frac_map[F.col("source")], F.lit(_MIX_DEFAULT_FRACTION))


def sample_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source totals + seeded Bernoulli sample counts — the raw
    mixing numbers (engine-RNG-specific; seeded-determinism and
    binomial-window semantics asserted in tests/test_oracle_parity.py).
    """
    d = load_table(spark, sf_dir, "documents")
    frac = _mix_frac_col()
    # rand() is non-deterministic → must live in a projection, not
    # inside the aggregate's argument (AnalysisException otherwise).
    flagged = d.select(
        "source", frac.alias("frac"), (F.rand(seed=42) < frac).alias("sampled")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("sampled"), 1)).alias("n_sampled"),
        F.first("frac").alias("frac"),
    )


def _mix_frac_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{src}' THEN {frac}" for src, frac in _MIX_FRACTIONS.items()
    )
    return f"CAST(CASE source {whens} ELSE {_MIX_DEFAULT_FRACTION} END AS DOUBLE)"


@query(
    "q_sample_mix",
    # Engine RNG has no cross-engine twin, so the green row checks the
    # sampling CONTRACT: exact per-stratum totals and configured
    # fractions (both SQL-computable) plus a Spark-side boolean
    # asserting the sampled count landed inside a 5σ binomial window.
    # Raw counts + seeded determinism stay covered in pytest.
    oracle=f"""
SELECT source, count(*) AS n_docs,
  {_mix_frac_case_sql()} AS frac,
  true AS sample_ok
FROM documents GROUP BY source ORDER BY source
""",
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified sampling — the data-mixing step of a
    pretraining pipeline (upsample curated sources, downsample bulk
    crawl).

    One map-only Bernoulli pass: each row's stratum fraction comes from
    the config map (a literal expression — ``sampleBy`` would need the
    stratum list up front, which previously cost a distinct+collect
    driver round-trip per call; unknown strata fall back to the default
    fraction instead of being silently dropped). NOT a data-dependent
    driver action; the mix is pipeline config, exactly like pivot's
    value list. The emitted row per stratum carries the exact total,
    the configured fraction, and a binomial-window check on the
    sampled count — all oracle-verifiable.
    """
    agg = sample_mix_counts(spark, sf_dir)
    sigma = F.sqrt(F.col("n_docs") * F.col("frac") * (1 - F.col("frac")))
    ok = (
        F.abs(F.col("n_sampled") - F.col("frac") * F.col("n_docs"))
        <= 5 * sigma + 5
    )
    return agg.select(
        "source", "n_docs", "frac", ok.alias("sample_ok")
    ).orderBy("source")


# Weighted-sampling config: per-language weights (pipeline config, like
# the mix fractions above), sample size, and the 53-bit uniform
# construction. The md5-derived signed-64 word hash contract is shared
# with the dedup family (llm/dedup.py _MD5_H64_SQL; parity locked in
# tests/test_oracle_parity.py).
_WS_WEIGHTS = {"en": 3.0, "de": 2.0}
_WS_DEFAULT_W = 1.0
_WS_K = 100
_MASK53 = (1 << 53) - 1  # 53-bit mantissa → u is exact in a double


def _ws_weight_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {w}" for lang, w in _WS_WEIGHTS.items()
    )
    return f"CAST(CASE {col} {whens} ELSE {_WS_DEFAULT_W} END AS DOUBLE)"


@query(
    "q_sample_weighted",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         {_ws_weight_sql('lang')} AS w,
         -ln((
           ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
             & {_MASK53}) + 1) / {float(_MASK53 + 1)}
         )) / {_ws_weight_sql('lang')} AS k
  FROM documents
)
SELECT doc_id, lang, source, w
FROM keyed ORDER BY k, doc_id LIMIT {_WS_K}
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-Res
    priority sampling, Efraimidis-Spirakis): each doc draws a uniform
    u from the md5 of its id and is ranked by -ln(u)/w; the k smallest
    keys are the sample. Higher-weight languages are proportionally
    over-represented, the draw is reproducible under retry/repartition/
    append (pure function of doc_id), and selection is a single
    TakeOrderedAndProject — per-task k-heaps, no global sort, no
    shuffle of the corpus at any scale.

    The priority key stays OUT of the output: Spark's `ln` (JVM
    Math.log) and DuckDB's (libm) may differ in the last ulp, which is
    harmless for *ranking* (key gaps between order statistics are
    ~1/n ≫ 1 ulp) but would break the driver's bit-exact value hash.
    The uniform is built on the engine-shared md5 53-bit contract, so
    both engines rank the identical key sequence.
    """
    d = load_table(spark, sf_dir, "documents")
    h64 = (
        "(shiftleft(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)"
        " as bigint), 32) | "
        "cast(conv(substr(md5(cast(doc_id as string)), 9, 8), 16, 10) as bigint))"
    )
    u = f"((({h64} & {_MASK53}) + 1) / {float(_MASK53 + 1)}d)"
    w_expr = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in _WS_WEIGHTS.items() for x in kv]
        )[F.col("lang")],
        F.lit(_WS_DEFAULT_W),
    )
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            w_expr.alias("w"),
            (F.expr(f"-ln({u})") / w_expr).alias("k"),
        )
        .orderBy("k", "doc_id")
        .limit(_WS_K)
        .select("doc_id", "lang", "source", "w")
    )


_VOCAB_K = 100


@query(
    "q_text_vocab",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (
  SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM w WHERE word != '' GROUP BY word
)
SELECT word, n_occ, n_docs
FROM f ORDER BY n_occ DESC, word LIMIT {_VOCAB_K}
""",
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-{k} words by occurrence with document
    frequency (B59l) — the first pass of tokenizer training and the
    input to IDF weighting / stopword discovery.

    Explode words → one grouped agg computing term count and per-word
    distinct-doc count → TakeOrderedAndProject for the top-k. Word
    keys are Zipf-hot by nature, and that is exactly what map-side
    combine absorbs: each task emits one partial row per distinct word
    it saw, so the shuffle carries |local vocab| rows per task, never
    |tokens|. IDF stays derivable from (n_docs, corpus size) as exact
    integers — ln() is deliberately NOT computed here because JVM and
    libm logs can differ in the last ulp (same reasoning as
    q_sample_weighted's hidden ranking key).
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        w.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occ").desc(), "word")
        .limit(_VOCAB_K)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (north-star text family: search/ranking)
# ---------------------------------------------------------------------------

# Okapi BM25 with the standard Robertson-Sparck-Jones idf (the +1 inside
# the log keeps it positive for common terms, the Lucene convention).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "table", "query")  # the fixed demo query
_BM25_TOPK = 20


@query(
    "q_text_bm25",
    oracle=f"""
WITH tf AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         {", ".join(
             f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf{i}"
             for i, t in enumerate(_BM25_QUERY)
         )}
  FROM documents
),
stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {", ".join(
             f"count(*) FILTER (WHERE tf{i} > 0) AS df{i}"
             for i in range(len(_BM25_QUERY))
         )}
  FROM tf
),
scored AS (
  SELECT t.doc_id, t.dl,
    {" + ".join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * (t.tf{i} * ({_BM25_K1} + 1))"
        f" / (t.tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))"
        for i in range(len(_BM25_QUERY))
    )} AS score
  FROM tf t CROSS JOIN stats s
)
SELECT doc_id, dl, round(score, 6) AS bm25
FROM scored
WHERE score > 0
ORDER BY round(score, 6) DESC, doc_id
LIMIT {_BM25_TOPK}
""",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword-retrieval scoring (north-star text family): the
    top-{k} documents for a fixed query term set, scored with Okapi
    BM25 (k1={k1}, b={b}).

    The scale shape every distributed search scorer uses:

    1. per-doc term frequencies + doc length — map-only expressions
       (``size(filter(words, = term))``), no shuffle;
    2. corpus statistics (N, avgdl, per-term df) — ONE tiny aggregate
       frame (a single row), broadcast back onto the stream; the corpus
       is scanned twice, shuffled never (the q_anomaly doctrine);
    3. the BM25 sum is row-local double arithmetic, and the top-k plans
       as TakeOrderedAndProject (per-task heaps, no global sort).

    Scores are rounded to 6 decimals in BOTH engines so the ordering
    key is the identical double; doc_id breaks ties.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    # NB: a 2-parameter lambda means (element, index) to F.filter — the
    # term must bind via a real closure, not a default argument.
    def tf_col(term: str, i: int):
        return F.size(F.filter(words, lambda w: w == F.lit(term))).alias(
            f"tf{i}"
        )

    tf_cols = [tf_col(t, i) for i, t in enumerate(_BM25_QUERY)]
    tf = d.select("doc_id", F.size(words).alias("dl"), *tf_cols)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_QUERY))
        ],
    )
    score = None
    for i in range(len(_BM25_QUERY)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        term = (
            idf
            * (F.col(f"tf{i}") * (_BM25_K1 + 1))
            / (
                F.col(f"tf{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = term if score is None else score + term
    return (
        tf.join(F.broadcast(stats))
        .select("doc_id", "dl", score.alias("score"))
        .filter(F.col("score") > 0)
        .select("doc_id", "dl", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


q_text_bm25.__doc__ = q_text_bm25.__doc__.format(
    k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (search/ranking family, with q_text_bm25)
# ---------------------------------------------------------------------------

_KEYWORDS_PER_DOC = 3


@query(
    "q_text_keywords",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents) t
  WHERE word != ''
  GROUP BY doc_id, word
),
df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, t.tf, d.df,
         round(t.tf * ln((SELECT n_docs FROM n) * 1.0 / d.df), 6)
           AS tfidf
  FROM tf t JOIN df d USING (word)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, word
  ) AS rank
  FROM scored
)
SELECT doc_id, rank, word, tf, df, tfidf
FROM ranked WHERE rank <= {_KEYWORDS_PER_DOC}
ORDER BY doc_id, rank
""",
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (search/ranking family):
    the top-{k} most distinctive terms of every document — the tagging /
    indexing pass run corpus-wide (where q_text_bm25 ranks docs for one
    query, this ranks terms for every doc).

    Shape: term frequencies aggregate map-side on (doc, word); document
    frequencies aggregate the same exploded frame on word (Zipf-hot
    words absorbed by partial aggregation exactly as q_text_vocab);
    N is a 1-row frame joined lazily. Per-doc top-k goes through a
    rank window filtered to {k} — planned as WindowGroupLimit, so each
    task keeps k-heaps per doc and the full scored set never
    materializes (the q_topk_group doctrine). Ties break on the word
    itself, so both engines emit the identical keyword set.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KEYWORDS_PER_DOC)
        .select("doc_id", "rank", "word", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    )


q_text_keywords.__doc__ = q_text_keywords.__doc__.format(k=_KEYWORDS_PER_DOC)


# ---------------------------------------------------------------------------
# Unigram-LM scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

_PPL_FLAG_NLL = 3.4  # mean negative-log-likelihood flag threshold


@query(
    "q_text_unigram_ppl",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
),
vocab AS (
  SELECT word, count(*) AS wf FROM w GROUP BY word
),
tot AS (SELECT CAST(sum(wf) AS BIGINT) AS n_tokens FROM vocab),
lp AS (
  SELECT w.doc_id,
         CAST(round(ln(vocab.wf * 1.0 / (SELECT n_tokens FROM tot)), 9)
              AS DECIMAL(28,12)) AS logp
  FROM w JOIN vocab USING (word)
),
d AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(logp) AS DOUBLE) AS sum_logp
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_words,
       round(-sum_logp / n_words, 6) AS mean_nll,
       -sum_logp / n_words > {_PPL_FLAG_NLL} AS flagged_surprising
FROM d ORDER BY doc_id
""",
)
def q_text_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring (the perplexity quality filter —
    CCNet/Gopher's LM filter with the 5-gram model honestly reduced to
    the corpus's own unigram distribution): each document's mean
    negative log-likelihood under corpus word frequencies, flagged when
    unusually surprising.

    Two-pass broadcast shape (the decontam/anomaly doctrine): the vocab
    frequency table aggregates map-side, the corpus re-scan joins it
    (broadcast at sane vocab sizes) and sums per-doc log-probs. Float
    determinism under a SHUFFLED sum is handled by the engine's decimal
    armor with one extra step for the transcendental: each per-word
    ln() rounds to 9dp as a double (identical IEEE value in both
    engines), then casts to DECIMAL(28,12) — the double sits within
    ~1e-17 of its 9dp target, so the 12dp cast recovers the exact same
    decimal in both engines, and the decimal sum is order-free. A real
    deployment swaps the unigram table for n-gram KenLM scores via the
    same join; the plumbing and determinism contract are unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("wf"))
    tot = vocab.agg(F.sum("wf").alias("n_tokens"))
    lp = (
        w.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("wf") * F.lit(1.0) / F.col("n_tokens")), 9
            )
            .cast("decimal(28,12)")
            .alias("logp"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("logp").cast("double").alias("sum_logp"),
    )
    mean_nll = -F.col("sum_logp") / F.col("n_words")
    return (
        agg.select(
            "doc_id",
            "n_words",
            F.round(mean_nll, 6).alias("mean_nll"),
            (mean_nll > _PPL_FLAG_NLL).alias("flagged_surprising"),
        )
        .orderBy("doc_id")
    )


_ZIPF_MIN_OCC = 5  # rank tail below this is sampling noise, not law


@query(
    "q_text_zipf",
    # Log-log regression over EXACT integer sums: rank and frequency
    # enter as floor(ln·1e6) micro-ints (floor of the bit-identical
    # double — no rounding-tie risk), the power sums are exact BIGINT,
    # and the closed forms are the identical IEEE sequence in both
    # engines (the q_agg_trend discipline in log space).
    oracle=f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (
  SELECT word, count(*) AS n_occ FROM w WHERE word != ''
  GROUP BY word HAVING count(*) >= {_ZIPF_MIN_OCC}
),
r AS (
  SELECT CAST(floor(ln(row_number() OVER (ORDER BY n_occ DESC, word)) * 1e6)
              AS BIGINT) AS x,
         CAST(floor(ln(n_occ) * 1e6) AS BIGINT) AS y
  FROM f
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(x*x) AS sxx,
         sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_points,
  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6)
    AS zipf_slope,
  round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
        / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
    AS r2
FROM s
""",
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: the slope of
    log-frequency vs log-rank — natural text sits near −1 with high R²;
    templated/generated/spam corpora bend or flatten the curve, making
    this a one-scalar corpus-health gate beside the per-doc quality
    and repetition filters.

    Shape: one exploded count to the vocab frequency table (map-side
    combinable), rank over the AGGREGATED |vocab| frame — a
    single-partition O(vocab) sort below the ``exact_window_ok`` gate,
    and the ``dist_cumsum`` row-number spine (equi-depth buckets on
    n_occ, word tiebreak, bit-identical ranks) above it, because at
    100 TB the vocabulary itself is entity-sized — then the
    q_agg_trend regression discipline in log space: floor(ln·1e6)
    micro-int coordinates → exact BIGINT power sums → identical IEEE
    closed forms. The ≥{_ZIPF_MIN_OCC}-occurrence floor drops the
    sampling-noise tail that would otherwise dominate the fit.
    """
    from asyncdatapipeline_spark.operators._util import (
        bounded_part,
        dist_cumsum,
        exact_window_ok,
    )

    d = load_table(spark, sf_dir, "documents")
    f = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= _ZIPF_MIN_OCC)
    )
    if exact_window_ok(d):
        from pyspark.sql import Window

        rank = F.row_number().over(
            Window.partitionBy(bounded_part(F.col("n_occ"))).orderBy(
                F.col("n_occ").desc(), "word"
            )
        )
        ranked = f.select(rank.alias("rank"), "n_occ")
    else:
        ranked = dist_cumsum(
            f.withColumn("one", F.lit(1)),
            "n_occ",
            ["one"],
            tiebreak=["word"],
            descending=True,
        ).select(F.col("cum_one").alias("rank"), "n_occ")
    r = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("n_occ").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col("n"), F.col("sx"), F.col("sxx"),
        F.col("sy"), F.col("syy"), F.col("sxy"),
    )
    num = (n * sxy - sx * sy).cast("double")
    return s.select(
        n.cast("long").alias("n_points"),
        F.round(num / (n * sxx - sx * sx).cast("double"), 6).alias(
            "zipf_slope"
        ),
        F.round(
            num * num
            / (
                (n * sxx - sx * sx).cast("double")
                * (n * syy - sy * sy).cast("double")
            ),
            6,
        ).alias("r2"),
    )


_BURST_TOP_K = 20


@query(
    "q_text_burstiness",
    # All-integer power sums over per-doc occurrence counts (zero-docs
    # included via N and sum-over-present identities), so mean/variance
    # are exact-ratio IEEE expressions — no decimal armor needed.
    oracle=f"""
WITH n_docs AS (SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL),
wc AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  WHERE text IS NOT NULL
),
per_doc AS (
  SELECT word, doc_id, count(*) AS k FROM wc WHERE word != '' GROUP BY 1, 2
),
stats AS (
  SELECT word, CAST(sum(k) AS BIGINT) AS n_occ,
         CAST(count(*) AS BIGINT) AS n_docs_present,
         CAST(sum(k * k) AS BIGINT) AS skk
  FROM per_doc GROUP BY word
)
SELECT word, n_occ, n_docs_present,
  round((CAST(skk AS DOUBLE) / nd
         - (CAST(n_occ AS DOUBLE) / nd) * (CAST(n_occ AS DOUBLE) / nd))
        / (CAST(n_occ AS DOUBLE) / nd), 6) AS dispersion
FROM stats, n_docs
ORDER BY n_occ DESC, word LIMIT {_BURST_TOP_K}
""",
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness / index of dispersion (variance-to-mean of
    per-document occurrence counts, zeros included): function words
    scatter evenly (D ≈ 1, Poisson-like), topical words clump
    (D ≫ 1) — the dispersion signal TF-IDF's document frequency only
    approximates, used by keyword-extraction and
    topic-drift literature.

    Zero-occurrence documents enter the moments WITHOUT being
    materialized: with N total docs and per-present-doc counts k,
    mean = Σk/N and E[k²] = Σk²/N already include the zeros — the
    grid of (word × absent doc) is never built (that grid is
    vocab × corpus and would dwarf the corpus itself). One exploded
    count to (word, doc), integer power sums per word, exact-ratio
    IEEE closed form; top-{k} by frequency via TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    stats = per_doc.groupBy("word").agg(
        F.sum("k").alias("n_occ"),
        F.count(F.lit(1)).alias("n_docs_present"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    mean = F.col("n_occ").cast("double") / F.col("nd")
    disp = (F.col("skk").cast("double") / F.col("nd") - mean * mean) / mean
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "word",
            "n_occ",
            "n_docs_present",
            F.round(disp, 6).alias("dispersion"),
        )
        .orderBy(F.col("n_occ").desc(), "word")
        .limit(_BURST_TOP_K)
    )


@query(
    "q_text_bigram_lm",
    # Same ln-contract as the unigram filter: each per-bigram
    # ln(c2/c1) rounds to 9dp (identical IEEE double in both engines),
    # casts to DECIMAL(28,12), and the per-doc sum is order-free.
    # Scoring the corpus under its OWN counts means every bigram has
    # c2 >= 1 — no zero probabilities, no smoothing constant to agree
    # on.
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM ws
),
c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY bigram),
c1 AS (
  SELECT split_part(bigram, ' ', 1) AS first_word, count(*) AS n1
  FROM bg GROUP BY 1
),
lp AS (
  SELECT bg.doc_id,
         CAST(round(ln(c2.n2 * 1.0 / c1.n1), 9) AS DECIMAL(28,12)) AS logp
  FROM bg
  JOIN c2 USING (bigram)
  JOIN c1 ON c1.first_word = split_part(bg.bigram, ' ', 1)
),
d AS (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(sum(logp) AS DOUBLE) AS sum_logp
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(-sum_logp / n_bigrams, 6) AS mean_nll2,
       -sum_logp / n_bigrams > {4.0!r} AS flagged_surprising
FROM d ORDER BY doc_id
""",
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal scoring — the conditional upgrade of
    q_text_unigram_ppl: each document's mean negative log-likelihood of
    P(wᵢ | wᵢ₋₁) = c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·) under the corpus's own bigram
    counts. Catches word-salad that unigram frequencies forgive (every
    word common, every TRANSITION rare) — the cheap structural half of
    what a real KenLM filter scores.

    Shape: one bigram explode feeds both count tables (bigram counts,
    first-word continuation counts) and the scoring re-join. The
    bigram-key join is written as a plain equi join — broadcast at
    sane vocab sizes, shuffle on the bigram key beyond that (unlike
    the unigram table, bigram vocab grows with corpus; the KenLM swap
    note from the unigram operator applies unchanged). Determinism is
    the unigram ln contract verbatim; no smoothing because the corpus
    scores itself (c2 >= 1 always).
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    docs = d.filter(F.size(w) >= 2)
    bigrams = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = docs.select("doc_id", F.explode(bigrams).alias("bigram"))
    # bg feeds c2, c1, and the scoring join — truncate once
    bg = bg.localCheckpoint(eager=False)
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy(
        F.split("bigram", " ").getItem(0).alias("first_word")
    ).agg(F.count(F.lit(1)).alias("n1"))
    lp = (
        bg.join(c2, "bigram")
        .join(
            c1,
            F.split(F.col("bigram"), " ").getItem(0) == F.col("first_word"),
        )
        .select(
            "doc_id",
            F.round(F.log(F.col("n2") * F.lit(1.0) / F.col("n1")), 9)
            .cast("decimal(28,12)")
            .alias("logp"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp").cast("double").alias("sum_logp"),
    )
    mean_nll = -F.col("sum_logp") / F.col("n_bigrams")
    return (
        agg.select(
            "doc_id",
            "n_bigrams",
            F.round(mean_nll, 6).alias("mean_nll2"),
            (mean_nll > 4.0).alias("flagged_surprising"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_sample_group_examples",
    # md5-ranked = deterministic "random": the rank key is a pure
    # function of doc_id, so retries, repartitions, and both engines
    # pick the identical examples. All comparisons on hex strings.
    oracle="""
SELECT lang, doc_id, n_chars,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents
) WHERE rk <= 3
ORDER BY lang, rk
""",
)
def q_sample_group_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group example sampling: 3 "random" documents
    per language, stable across retries and engines — the exploration
    query behind every "show me a few examples from each slice" UI and
    eval-set spot check. A naive LIMIT-per-group returns whatever
    partition order serves first (different every run); seeding rand()
    differs per engine; the md5 rank key is the q_split_hash trick
    applied to sampling — pure function of the row, so the sample IS
    reproducible metadata.

    Scale shape: WindowGroupLimit pushes a per-task 3-heap below the
    shuffle (the q_topk_group plan), so each map task emits at most 3
    rows per group no matter the corpus size; the md5 never leaves the
    rank key (not output — the q_sample_weighted libm discipline
    doesn't even arise, md5 is bit-exact everywhere).
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", "n_chars", F.col("rk").cast("int").alias("rk"))
        .orderBy("lang", "rk")
    )


@query(
    "q_text_bpe_pairs",
    # Exact integer pair weights: char-bigram counts per DISTINCT word
    # multiplied by word frequency — the true first-iteration BPE
    # statistic; top-20 with the pair string as tiebreak.
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wf FROM w
  WHERE len(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT word, wf,
         unnest(list_transform(generate_series(1, len(word) - 1),
                i -> word[i] || word[i + 1])) AS pair
  FROM vocab
),
agg AS (
  SELECT pair, CAST(sum(wf) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT word) AS BIGINT) AS n_words
  FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences, n_words
FROM agg ORDER BY n_occurrences DESC, pair
LIMIT 20
""",
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge statistics: the top-20 adjacent
    CHARACTER pairs by corpus occurrence (pair count within each
    distinct word × that word's frequency) — exactly the statistic
    byte-pair-encoding tokenizer training maximizes on its first
    merge, and the standing answer to "what would our tokenizer merge
    first on THIS corpus" (domain corpora merge domain strings first
    — the vocabulary-fit pre-flight before committing to a tokenizer).

    Scale shape: the corpus reduces to the VOCAB first (the
    q_text_vocab pass — map-side combine absorbs Zipf-hot words), and
    character-pair explosion runs over distinct words only — pair work
    is vocab-sized, not corpus-sized, then weighted by the carried
    frequency. One further map-combinable aggregate to pair totals;
    top-20 plans as TakeOrderedAndProject. All-integer, exact.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        w.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    chars = F.split(F.col("word"), "")
    pair_arr = F.zip_with(
        F.slice(chars, 1, F.length("word") - 1),
        F.slice(chars, 2, F.length("word") - 1),
        lambda a, b: F.concat(a, b),
    )
    pairs = vocab.select("word", "wf", F.explode(pair_arr).alias("pair"))
    agg = pairs.groupBy("pair").agg(
        F.sum("wf").alias("n_occurrences"),
        F.countDistinct("word").alias("n_words"),
    )
    return (
        agg.orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
        .select("pair", "n_occurrences", "n_words")
    )


@query(
    "q_text_readability",
    # All per-doc counts are integers (words, sentence marks, vowel
    # groups) from the SAME regexes in both engines; group sums stay
    # BIGINT and the Flesch closed form runs once per group on exact
    # sums. The per-doc easy flag compares an identical IEEE expression
    # to 60, so its count is exact too.
    oracle="""
WITH c AS (
  SELECT lang, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\\s+')) END AS w,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
  FROM documents
),
f AS (
  SELECT lang, source, w, s, y,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(y AS DOUBLE) / w) AS flesch
  FROM c WHERE w > 0
),
x AS (SELECT lang, source FROM c WHERE w = 0)
SELECT f.lang, f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS total_words,
       round(CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE), 6)
         AS words_per_sentence,
       round(CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
         AS syllables_per_word,
       round(206.835
             - 1.015 * (CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE))
             - 84.6 * (CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE)),
             4) AS flesch,
       round(CAST(sum(CASE WHEN flesch > 60 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS easy_share,
       CAST((SELECT count(*) FROM x
             WHERE x.lang = f.lang AND x.source = f.source) AS BIGINT)
         AS n_excluded
FROM f GROUP BY f.lang, f.source
ORDER BY f.lang, f.source
""",
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring per (lang, source) corpus slice — the Flesch
    reading-ease family every pretraining quality stack runs (too-easy
    boilerplate and too-hard OCR garbage both get downweighted; B59's
    q_text_quality gates on surface ratios, this scores SENTENCE
    STRUCTURE: words/sentence and syllables/word, with syllables
    approximated as vowel-group runs — the standard heuristic when no
    dictionary ships with the cluster).

    Scale shape: the three counts are row-local regexes (scan-bound,
    JVM codegen, no Python); the report aggregates INTEGER sums per
    (lang, source) — one partial-aggregated shuffle of 3 longs per
    group — and evaluates the Flesch closed form once per GROUP on
    exact sums (averaging per-doc doubles would drift with addend
    order; group-sums-then-one-division is both exacter and cheaper).
    Degenerate docs (no words) are excluded and counted rather than
    poisoning the ratios with NULL/∞; unpunctuated docs count as ONE
    sentence (the standard fallback — this synthetic corpus has no
    sentence marks at all, so the guard is load-bearing here).
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    s = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))),
    )
    y = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    c = d.select("lang", "source", w.alias("w"), s.alias("s"), y.alias("y"))
    ok = c.filter(F.col("w") > 0)
    wd, sd, yd = (F.col(x).cast("double") for x in ("w", "s", "y"))
    per_doc_flesch = (
        F.lit(206.835) - F.lit(1.015) * (wd / F.col("s")) - F.lit(84.6) * (yd / F.col("w"))
    )
    sw, ss, sy = (
        F.sum(x).cast("long").cast("double") for x in ("w", "s", "y")
    )
    agg = ok.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("long").alias("total_words"),
        F.round(sw / ss, 6).alias("words_per_sentence"),
        F.round(sy / sw, 6).alias("syllables_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * (sw / ss) - F.lit(84.6) * (sy / sw),
            4,
        ).alias("flesch"),
        F.round(
            F.sum(F.when(per_doc_flesch > 60, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("easy_share"),
    )
    excl = (
        c.filter(F.col("w") == 0)
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_excluded"))
    )
    return (
        agg.join(excl, ["lang", "source"], "left")
        .withColumn(
            "n_excluded", F.coalesce(F.col("n_excluded"), F.lit(0)).cast("long")
        )
        .orderBy("lang", "source")
    )


@query(
    "q_eval_langid",
    # Same marker-argmax predictor as q_text_lang; the evaluation is
    # all exact integers (confusion cells) with guarded ratio closed
    # forms — NULL precision for never-predicted classes, NULL F1 when
    # P+R degenerates, never a div-by-zero.
    oracle=f"""
WITH scored AS (
  SELECT lang AS t,
    CASE
      WHEN len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['en'])}, w)))
        >= len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['code'])}, w)))
       AND len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['en'])}, w)))
        >= len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['data'])}, w)))
      THEN 'en'
      WHEN len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['code'])}, w)))
        >= len(list_filter(string_split(text, ' '),
           w -> list_contains({_sql_list(_LANG_MARKERS['data'])}, w)))
      THEN 'code'
      ELSE 'data'
    END AS p
  FROM documents
),
cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY 1, 2),
classes AS (SELECT DISTINCT t AS c FROM cells
            UNION SELECT DISTINCT p FROM cells),
per AS (
  SELECT cl.c,
         CAST(COALESCE((SELECT sum(n) FROM cells WHERE t = cl.c), 0)
              AS BIGINT) AS n_true,
         CAST(COALESCE((SELECT sum(n) FROM cells WHERE p = cl.c), 0)
              AS BIGINT) AS n_pred,
         CAST(COALESCE((SELECT n FROM cells WHERE t = cl.c AND p = cl.c), 0)
              AS BIGINT) AS tp
  FROM classes cl
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(sum(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS hits
  FROM cells
)
SELECT per.c AS label, n_true, n_pred, tp,
       CASE WHEN n_pred > 0
            THEN round(CAST(tp AS DOUBLE) / n_pred, 6) END AS precision,
       CASE WHEN n_true > 0
            THEN round(CAST(tp AS DOUBLE) / n_true, 6) END AS recall,
       CASE WHEN n_pred > 0 AND n_true > 0 AND tp > 0
            THEN round(2.0 * (CAST(tp AS DOUBLE) / n_pred)
                           * (CAST(tp AS DOUBLE) / n_true)
                       / (CAST(tp AS DOUBLE) / n_pred
                          + CAST(tp AS DOUBLE) / n_true), 6) END AS f1,
       round(CAST(tot.hits AS DOUBLE) / tot.total, 6) AS accuracy
FROM per CROSS JOIN tot ORDER BY label
""",
)
def q_eval_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation scorecard: the marker-argmax language-ID
    heuristic (q_text_lang's predictor) scored against the stored
    ``lang`` labels — per-class precision / recall / F1 plus overall
    accuracy from the confusion matrix. The evaluation harness every
    model-backed pipeline stage needs (swap the CASE predictor for a
    model-score column and the scorecard is unchanged) — and the
    honest measurement of a heuristic IS part of shipping it.

    Scale shape: prediction is row-local (broadcast-size marker
    vocabularies, one pass); the confusion matrix is ONE
    partial-aggregated shuffle to classes² cells; every metric after
    is a guarded ratio on that dimension-sized frame (NULL precision
    for never-predicted classes, NULL F1 on degenerate P+R — ANSI
    div-by-zero armored with exact-integer guards).
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def score(markers):
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    s_en, s_code, s_data = (
        score(_LANG_MARKERS[k]) for k in ("en", "code", "data")
    )
    pred = (
        F.when((s_en >= s_code) & (s_en >= s_data), "en")
        .when(s_code >= s_data, "code")
        .otherwise("data")
    )
    scored = d.select(F.col("lang").alias("t"), pred.alias("p"))
    cells = scored.groupBy("t", "p").agg(F.count(F.lit(1)).alias("n"))
    classes = (
        cells.select(F.col("t").alias("c"))
        .union(cells.select(F.col("p").alias("c")))
        .distinct()
    )
    n_true = cells.groupBy(F.col("t").alias("c")).agg(
        F.sum("n").alias("n_true")
    )
    n_pred = cells.groupBy(F.col("p").alias("c")).agg(
        F.sum("n").alias("n_pred")
    )
    tps = cells.filter(F.col("t") == F.col("p")).select(
        F.col("t").alias("c"), F.col("n").alias("tp")
    )
    tot = F.broadcast(
        cells.agg(
            F.sum("n").cast("long").alias("total"),
            F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("hits"),
        )
    )
    per = (
        classes.join(n_true, "c", "left")
        .join(n_pred, "c", "left")
        .join(tps, "c", "left")
        .select(
            "c",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    prec = F.col("tp").cast("double") / F.col("n_pred")
    rec = F.col("tp").cast("double") / F.col("n_true")
    return (
        per.crossJoin(tot)
        .select(
            F.col("c").alias("label"),
            "n_true",
            "n_pred",
            "tp",
            F.when(F.col("n_pred") > 0, F.round(prec, 6)).alias("precision"),
            F.when(F.col("n_true") > 0, F.round(rec, 6)).alias("recall"),
            F.when(
                (F.col("n_pred") > 0) & (F.col("n_true") > 0) & (F.col("tp") > 0),
                F.round(2.0 * prec * rec / (prec + rec), 6),
            ).alias("f1"),
            F.round(
                F.col("hits").cast("double") / F.col("total"), 6
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


def _eval_retrieval_oracle_sql() -> str:
    tfs = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_QUERY)
    )
    score = " + ".join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * (t.tf{i} * ({_BM25_K1} + 1))"
        f" / (t.tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))"
        for i in range(len(_BM25_QUERY))
    )
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_QUERY))
    )
    all_terms = " AND ".join(
        f"tf{i} > 0" for i in range(len(_BM25_QUERY))
    )
    return f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, {tfs}
  FROM documents
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {dfs}
  FROM t
),
ranked AS (
  SELECT t.doc_id, ({all_terms}) AS rel,
         row_number() OVER (ORDER BY round({score}, 6) DESC, t.doc_id)
           AS rnk
  FROM t, s WHERE round({score}, 6) > 0
),
topk AS (SELECT * FROM ranked WHERE rnk <= {_BM25_TOPK}),
rel_total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rel FROM t WHERE {all_terms}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k_returned,
         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
         min(CASE WHEN rel THEN rnk END) AS first_rel
  FROM topk
)
SELECT {_BM25_TOPK} AS k, rel_total.n_rel AS n_relevant,
       m.n_rel_topk AS n_relevant_in_topk,
       round(CAST(m.n_rel_topk AS DOUBLE) / m.k_returned, 6)
         AS precision_at_k,
       CASE WHEN rel_total.n_rel > 0
            THEN round(CAST(m.n_rel_topk AS DOUBLE) / rel_total.n_rel, 6)
       END AS recall_at_k,
       CASE WHEN m.first_rel IS NULL THEN 0.0
            ELSE round(1.0 / m.first_rel, 6) END AS mrr
FROM m CROSS JOIN rel_total
"""


@query("q_eval_retrieval", oracle=_eval_retrieval_oracle_sql())
def q_eval_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation scorecard: BM25's top-k for the standing
    query scored against a deterministic relevance rule (a document is
    relevant iff it contains ALL query terms — strict conjunctive
    relevance, the standard proxy when no human judgments ship with
    the corpus): precision@k, recall@k, and MRR. Fourth eval-family
    member (classifier, LSH pipeline, vector index, now the ranker) —
    BM25 can surface a high-tf two-term doc above a low-tf three-term
    one, so the metrics are non-trivially below 1.

    Scale shape: relevance flags and BM25 scores are the SAME row-local
    tf expressions (one corpus pass + the one-row stats broadcast the
    BM25 op already uses); ranking happens on the rounded-6dp score
    with doc_id tiebreak, so both engines rank identically; the
    scorecard reduces the ≤k frame plus one corpus-level relevant
    count. Swapping in a query PANEL adds a query-id key, same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def tf_col(term, i):
        return F.size(F.filter(words, lambda w: w == F.lit(term))).alias(
            f"tf{i}"
        )

    nq = len(_BM25_QUERY)
    tf = d.select(
        "doc_id",
        F.size(words).alias("dl"),
        *[tf_col(t, i) for i, t in enumerate(_BM25_QUERY)],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(nq)
        ],
    )
    score = None
    for i in range(nq):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        term = (
            idf
            * (F.col(f"tf{i}") * (_BM25_K1 + 1))
            / (
                F.col(f"tf{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = term if score is None else score + term
    rel = None
    for i in range(nq):
        c = F.col(f"tf{i}") > 0
        rel = c if rel is None else rel & c
    scored = (
        tf.join(F.broadcast(stats))
        .select("doc_id", rel.alias("rel"), F.round(score, 6).alias("bm25"))
        .localCheckpoint(eager=False)  # feeds ranked AND rel_total: the
        # corpus scan + per-term tf extraction must run once, not per branch
    )
    # Top-k FIRST via TakeOrderedAndProject (distributed per-task
    # k-heaps), THEN rank the k-row frame on the fold-proof constant
    # partition — the q_eval_ndcg shape. The previous unpartitioned
    # row_number ranked the whole scored corpus on one partition
    # before the k-filter (r9 window scan).
    ranked = (
        scored.filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy(bounded_part(F.col("bm25"))).orderBy(
                    F.col("bm25").desc(), "doc_id"
                )
            ),
        )
    )
    rel_total = F.broadcast(
        scored.agg(
            F.sum(F.when(F.col("rel"), 1).otherwise(0))
            .cast("long")
            .alias("n_rel")
        )
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("k_returned"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel_topk"),
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rel"),
    )
    return m.crossJoin(rel_total).select(
        F.lit(_BM25_TOPK).cast("int").alias("k"),
        F.col("n_rel").alias("n_relevant"),
        F.col("n_rel_topk").alias("n_relevant_in_topk"),
        F.round(
            F.col("n_rel_topk").cast("double") / F.col("k_returned"), 6
        ).alias("precision_at_k"),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.col("n_rel_topk").cast("double") / F.col("n_rel"), 6),
        ).alias("recall_at_k"),
        F.when(F.col("first_rel").isNull(), F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) / F.col("first_rel"), 6))
        .alias("mrr"),
    )


_COLLOC_MIN_COUNT = 5
_COLLOC_TOP_K = 20


@query(
    "q_text_collocations",
    # PMI is a PER-ROW ln on a vocab-bounded frame (never summed), so
    # the 6dp output round is the only float contract needed; ordering
    # is on the ROUNDED pmi + bigram string, engine-identical.
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM ws
),
c2 AS (SELECT bigram, count(*) AS n_ab FROM bg GROUP BY bigram),
cf AS (SELECT split_part(bigram, ' ', 1) AS wd, count(*) AS n_first
       FROM bg GROUP BY 1),
cs AS (SELECT split_part(bigram, ' ', 2) AS wd, count(*) AS n_second
       FROM bg GROUP BY 1),
n AS (SELECT count(*) AS nn FROM bg),
p AS (
  SELECT c2.bigram, c2.n_ab,
         round(ln(CAST(c2.n_ab AS DOUBLE) * nn
                  / (cf.n_first * CAST(cs.n_second AS DOUBLE))), 6) AS pmi
  FROM c2
  JOIN cf ON cf.wd = split_part(c2.bigram, ' ', 1)
  JOIN cs ON cs.wd = split_part(c2.bigram, ' ', 2)
  CROSS JOIN n
  WHERE c2.n_ab >= {_COLLOC_MIN_COUNT}
)
SELECT bigram, CAST(n_ab AS BIGINT) AS n_ab, pmi
FROM p ORDER BY pmi DESC, bigram LIMIT {_COLLOC_TOP_K}
""",
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-{k} adjacent word pairs by pointwise
    mutual information — phrases whose words co-occur far beyond
    chance ("new york", "machine learning"); the phrase-detection pass
    tokenizer pipelines run to decide what deserves a single token.
    q_text_bigram_lm scores DOCUMENTS under bigram statistics; this
    ranks the BIGRAMS themselves (PMI), and q_events_pmi is the same
    statistic on event co-occurrence — three uses of one identity.

    Position-conditional probabilities deliberately: p(a·) from
    first-slot counts, p(·b) from second-slot counts, both over the
    same N = total bigram count, so the three marginals share one
    denominator frame and the PMI needs no second corpus pass. A
    minimum pair count of {mc} filters the singleton-PMI artifact
    (hapax pairs otherwise top any PMI list).

    Scale shape: bigram generation is a map-only transform of each
    document's token array; pair counting is map-side combinable; the
    PMI join runs on VOCAB-bounded frames (bigram types × two unigram
    maps — broadcast-sized under Zipf). ln appears once per bigram
    TYPE as display output (never summed), ordered on the 6dp-rounded
    value with the bigram string tiebreak; TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        F.split(F.col("text"), " ").alias("w")
    ).filter(F.size("w") >= 2)
    bg = w.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat(w[i], ' ', w[i + 1]))"
            )
        ).alias("bigram")
    )
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
    first = F.split(F.col("bigram"), " ").getItem(0)
    second = F.split(F.col("bigram"), " ").getItem(1)
    cf = bg.groupBy(first.alias("wd")).agg(
        F.count(F.lit(1)).alias("n_first")
    )
    cs = bg.groupBy(second.alias("wd")).agg(
        F.count(F.lit(1)).alias("n_second")
    )
    nn = bg.agg(F.count(F.lit(1)).alias("nn"))
    p = (
        c2.filter(F.col("n_ab") >= _COLLOC_MIN_COUNT)
        .join(F.broadcast(cf), first == F.col("wd"))
        .drop("wd")
        .join(F.broadcast(cs), second == F.col("wd"))
        .drop("wd")
        .crossJoin(F.broadcast(nn))
        .select(
            "bigram",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("nn")
                    / (F.col("n_first") * F.col("n_second").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return p.orderBy(F.col("pmi").desc(), "bigram").limit(_COLLOC_TOP_K)


q_text_collocations.__doc__ = q_text_collocations.__doc__.format(
    k=_COLLOC_TOP_K, mc=_COLLOC_MIN_COUNT
)


_EDIST_BLOCK_CHARS = 32
_EDIST_CAP_CHARS = 200
_EDIST_BLOCK_CAP = 50
_EDIST_TOP_K = 20


@query(
    "q_text_editdist",
    oracle=f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {_EDIST_CAP_CHARS}) AS head,
         substr(text, 1, {_EDIST_BLOCK_CHARS}) AS blk
  FROM documents
),
keep AS (
  SELECT blk FROM t GROUP BY blk
  HAVING count(*) BETWEEN 2 AND {_EDIST_BLOCK_CAP}
),
tk AS (SELECT t.* FROM t JOIN keep USING (blk)),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.head, b.head) AS dist,
         greatest(len(a.head), len(b.head)) AS maxlen
  FROM tk a JOIN tk b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS edit_dist,
       round(1.0 - dist * 1.0 / maxlen, 6) AS head_similarity
FROM p ORDER BY edit_dist, doc_a, doc_b LIMIT {_EDIST_TOP_K}
""",
)
def q_text_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate verification: the {k} closest
    document pairs by Levenshtein distance over their first {cap}
    chars, candidates blocked on a shared {blk}-char prefix — the
    EXACT-verification stage that sits behind every LSH/minhash
    recall pipeline (q_dedup_ngram verifies candidates with set
    Jaccard; this verifies with SEQUENCE edit distance, which catches
    in-place edits Jaccard's bag-of-shingles can miss and is the
    standard metric for fuzzy-matching audits).

    Scale doctrine stated plainly: Levenshtein is O(m·n) PER PAIR —
    never run it on all pairs. Three caps bound the work: (1) pairs
    exist only WITHIN a prefix block (equi join, no theta join), (2)
    blocks larger than {bcap} docs are suppressed before the
    self-join (the hot-bucket guard — boilerplate prefixes otherwise
    go quadratic), (3) the compared string is head-capped at {cap}
    chars so one pair costs bounded cells. Spark's `levenshtein` and
    DuckDB's agree exactly (unit-cost insert/delete/substitute), so
    distances cross engines with no tolerance.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.substring("text", 1, _EDIST_CAP_CHARS).alias("head"),
        F.substring("text", 1, _EDIST_BLOCK_CHARS).alias("blk"),
    )
    keep = (
        t.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb").between(2, _EDIST_BLOCK_CAP))
        .select("blk")
    )
    tk = t.join(keep, "blk").localCheckpoint(eager=False)
    a = tk.select(
        "blk", F.col("doc_id").alias("doc_a"), F.col("head").alias("ha")
    )
    b = tk.select(
        "blk", F.col("doc_id").alias("doc_b"), F.col("head").alias("hb")
    )
    p = (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ha", "hb").cast("long").alias("edit_dist"),
            F.greatest(F.length("ha"), F.length("hb")).alias("maxlen"),
        )
    )
    return (
        p.select(
            "doc_a",
            "doc_b",
            "edit_dist",
            F.round(
                1.0 - F.col("edit_dist") * 1.0 / F.col("maxlen"), 6
            ).alias("head_similarity"),
        )
        .orderBy("edit_dist", "doc_a", "doc_b")
        .limit(_EDIST_TOP_K)
    )


q_text_editdist.__doc__ = q_text_editdist.__doc__.format(
    k=_EDIST_TOP_K,
    cap=_EDIST_CAP_CHARS,
    blk=_EDIST_BLOCK_CHARS,
    bcap=_EDIST_BLOCK_CAP,
)


_NEYMAN_BUDGET = 10_000  # total sample size to allocate (pipeline config)


@query(
    "q_sample_neyman",
    # Per-stratum power sums are exact decimals; S_h is one sqrt of a
    # closed form; the cross-stratum totals are sums of 6dp/4dp-rounded
    # DECIMAL stratum weights (order-independent — a raw double sum
    # over strata would wobble with merge order), so every share is a
    # single IEEE division of identical inputs in both engines.
    oracle=f"""
WITH s AS (
  SELECT l_returnflag AS stratum,
    CAST(count(*) AS BIGINT) AS n_h,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))
         AS DOUBLE) AS sxx
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT stratum, n_h,
    sqrt(sxx / n_h - (sx / n_h) * (sx / n_h)) AS sd_h
  FROM s
),
w AS (
  SELECT stratum, n_h, sd_h,
    CAST(round(n_h * sd_h, 6) AS DECIMAL(28,6)) AS w_ney,
    CAST(round(n_h * sd_h * sd_h, 4) AS DECIMAL(38,4)) AS w_var
  FROM d
),
t AS (
  SELECT CAST(sum(w_ney) AS DOUBLE) AS tot_ney,
         CAST(sum(w_var) AS DOUBLE) AS tot_var,
         CAST(sum(n_h) AS BIGINT) AS n_total
  FROM w
)
SELECT w.stratum, w.n_h, round(w.sd_h, 6) AS sd_h,
       round(CAST(w.w_ney AS DOUBLE) / t.tot_ney, 6) AS neyman_share,
       round(CAST(w.n_h AS DOUBLE) / t.n_total, 6) AS prop_share,
       round({_NEYMAN_BUDGET} * CAST(w.w_ney AS DOUBLE) / t.tot_ney, 4)
         AS n_neyman,
       round((t.tot_ney / t.n_total) * (t.tot_ney / t.n_total)
             / (t.tot_var / t.n_total), 6) AS variance_ratio
FROM w CROSS JOIN t ORDER BY w.stratum
""",
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation — the sampling-design
    complement of q_sample_mix (which APPLIES configured fractions;
    this DERIVES the optimal ones): for a fixed budget n, allocating
    n_h ∝ N_h·S_h (stratum size × stratum std-dev) minimizes the
    variance of the stratified mean estimator. Emitted per stratum:
    the Neyman share vs the proportional share, the budgeted
    allocation, and the variance_ratio (Neyman variance over
    proportional-allocation variance, (ΣW_h S_h)²/ΣW_h S_h² ≤ 1 by
    Cauchy-Schwarz) — how much estimator variance the optimal design
    buys. The input every "how big should the QA sample per source
    be" decision needs.

    Scale shape: ONE partial-aggregated pass of exact power sums per
    stratum (|l_returnflag| = 3 rows out); the allocation arithmetic
    is a broadcast cross-join of the stratum frame with its own 1-row
    totals — dimension-sized everywhere after the scan. The budget is
    emitted as a 4dp double (never floor-cast: round-vs-truncate is
    the cross-engine integer trap, and fractional allocations are the
    textbook form before final rounding anyway).
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(x.cast("decimal(28,2)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
    )
    nh = F.col("n_h").cast("double")
    sd = F.sqrt(F.col("sxx") / nh - (F.col("sx") / nh) * (F.col("sx") / nh))
    w = s.select(
        "stratum",
        "n_h",
        sd.alias("sd_h"),
        F.round(nh * sd, 6).cast("decimal(28,6)").alias("w_ney"),
        F.round(nh * sd * sd, 4).cast("decimal(38,4)").alias("w_var"),
    )
    t = F.broadcast(
        w.agg(
            F.sum("w_ney").cast("double").alias("tot_ney"),
            F.sum("w_var").cast("double").alias("tot_var"),
            F.sum("n_h").cast("long").alias("n_total"),
        )
    )
    # all-zero stratum spreads (single rows / constants) collapse the
    # Neyman normalizer — shares/ratio undefined, never an ANSI crash
    ok_ney = F.col("tot_ney") > 0
    ney = F.when(ok_ney, F.col("w_ney").cast("double") / F.col("tot_ney"))
    ntot = F.col("n_total").cast("double")
    return (
        w.crossJoin(t)
        .select(
            "stratum",
            "n_h",
            F.round("sd_h", 6).alias("sd_h"),
            F.round(ney, 6).alias("neyman_share"),
            F.round(F.col("n_h").cast("double") / ntot, 6).alias(
                "prop_share"
            ),
            F.round(F.lit(_NEYMAN_BUDGET) * ney, 4).alias("n_neyman"),
            F.when(
                F.col("tot_var") > 0,
                F.round(
                    (F.col("tot_ney") / ntot)
                    * (F.col("tot_ney") / ntot)
                    / (F.col("tot_var") / ntot),
                    6,
                ),
            ).alias("variance_ratio"),
        )
        .orderBy("stratum")
    )


_MIX_TAU = 0.7  # temperature exponent (pipeline config)
_MIX_BUDGET = 10_000_000  # sampled-token budget (pipeline config)


@query(
    "q_mix_temperature",
    # Token totals are exact integers (the q_text_tokens whitespace
    # count); p_i^tau is libm pow (the q_agg_jarque_bera pow-risk
    # class, identical expression text both engines) and every
    # cross-source sum of pow outputs is 9dp-DECIMAL armored so merge
    # order can never wobble a share.
    oracle=f"""
WITH t AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens FROM t),
p AS (
  SELECT source, n_docs, tokens,
    CAST(tokens AS DOUBLE) / all_tokens AS nat_share,
    CAST(round(pow(CAST(tokens AS DOUBLE) / all_tokens, {_MIX_TAU}), 9)
         AS DECIMAL(18,9)) AS w
  FROM t CROSS JOIN tot
),
z AS (SELECT CAST(sum(w) AS DOUBLE) AS zw FROM p)
SELECT p.source, p.n_docs, p.tokens,
       round(p.nat_share, 6) AS natural_share,
       round(CAST(p.w AS DOUBLE) / z.zw, 6) AS temp_share,
       round({_MIX_BUDGET} * CAST(p.w AS DOUBLE) / z.zw, 2)
         AS sampled_tokens,
       round({_MIX_BUDGET} * CAST(p.w AS DOUBLE) / z.zw / p.tokens, 6)
         AS epochs,
       {_MIX_BUDGET} * CAST(p.w AS DOUBLE) / z.zw / p.tokens > 1.0
         AS upsampled
FROM p CROSS JOIN z ORDER BY p.source
""",
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based pretraining mix (alpha-sampling): sampling
    weights q_i ∝ p_i^τ over per-source token shares, τ = {tau} — the
    standard device that UPWEIGHTS small curated sources relative to
    bulk crawl without hand-tuned fractions (τ=1 keeps natural
    proportions, τ=0 is uniform; 0.7 is the multilingual-LM
    convention). Emits, per source, the natural vs temperature share,
    the token allocation under a {budget:,}-token budget, and the
    EPOCHS the allocation implies — upsampled (> 1 epoch) sources are
    flagged because repetition is the known quality cliff the τ knob
    trades against. q_sample_mix APPLIES configured fractions;
    q_sample_neyman optimizes for estimator variance; this derives
    the LM-training mix.

    Scale shape: ONE partial-aggregated pass over documents (token
    count = the q_text_tokens whitespace device, computed map-side);
    every share/epoch statistic lives on the |sources|-row frame via
    two broadcast cross-joins with 1-row totals. No window, no sort.

    Determinism: integer token sums; pow outputs 9dp-DECIMAL armored
    before the cross-source normalizer sum (merge-order-proof); one
    identical IEEE chain per emitted column.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("tokens"),
    )
    tot = F.broadcast(
        t.agg(F.sum("tokens").cast("long").alias("all_tokens"))
    )
    p = t.crossJoin(tot).select(
        "source",
        "n_docs",
        "tokens",
        (F.col("tokens").cast("double") / F.col("all_tokens")).alias(
            "nat_share"
        ),
        F.round(
            F.pow(
                F.col("tokens").cast("double") / F.col("all_tokens"),
                F.lit(_MIX_TAU),
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("w"),
    )
    z = F.broadcast(p.agg(F.sum("w").cast("double").alias("zw")))
    alloc = F.lit(float(_MIX_BUDGET)) * F.col("w").cast("double") / F.col(
        "zw"
    )
    return (
        p.crossJoin(z)
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round("nat_share", 6).alias("natural_share"),
            F.round(F.col("w").cast("double") / F.col("zw"), 6).alias(
                "temp_share"
            ),
            F.round(alloc, 2).alias("sampled_tokens"),
            F.round(alloc / F.col("tokens"), 6).alias("epochs"),
            (alloc / F.col("tokens") > 1.0).alias("upsampled"),
        )
        .orderBy("source")
    )


q_mix_temperature.__doc__ = q_mix_temperature.__doc__.format(
    tau=_MIX_TAU, budget=_MIX_BUDGET
)


_NDCG_K = 10
# 1/log2(r+1) precomputed ONCE in Python and injected as the same
# 12dp literal into BOTH engines' SQL — the discount table carries
# zero cross-engine libm risk by construction.
_NDCG_DISC = {
    r: round(1.0 / __import__("math").log2(r + 1), 12)
    for r in range(1, _NDCG_K + 1)
}
_NDCG_QUERY = _BM25_QUERY  # same standing demo query as the BM25 family


def _ndcg_gain_case(col: str) -> str:
    return f"CASE {col} WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END"


def _ndcg_oracle_sql() -> str:
    tf = ", ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{t}'))"
        f" AS tf{i}"
        for i, t in enumerate(_NDCG_QUERY)
    )
    grade = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_NDCG_QUERY))
    )
    score = " + ".join(f"tf{i}" for i in range(len(_NDCG_QUERY)))
    disc_rows = ", ".join(f"({r}, {_NDCG_DISC[r]})" for r in _NDCG_DISC)
    return f"""
WITH tf AS (SELECT doc_id, {tf} FROM documents),
g AS (
  SELECT doc_id, {score} AS score, {grade} AS grade FROM tf
),
topk AS (
  SELECT doc_id, grade,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM g ORDER BY score DESC, doc_id LIMIT {_NDCG_K}
),
disc(rnk, disc) AS (VALUES {disc_rows}),
dcg AS (
  SELECT CAST(sum(CAST(round(
           ({_ndcg_gain_case('t.grade')}) * d.disc, 9)
           AS DECIMAL(18,9))) AS DOUBLE) AS dcg
  FROM topk t JOIN disc d ON d.rnk = t.rnk
),
hist AS (
  SELECT
    CAST(sum(CASE WHEN grade = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
    CAST(sum(CASE WHEN grade = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN grade = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM g
),
ideal AS (
  SELECT CAST(sum(CAST(round(
           ({_ndcg_gain_case('''
             (CASE WHEN d.rnk <= h.n3 THEN 3
                   WHEN d.rnk <= h.n3 + h.n2 THEN 2
                   WHEN d.rnk <= h.n3 + h.n2 + h.n1 THEN 1
                   ELSE 0 END)''')}) * d.disc, 9)
           AS DECIMAL(18,9))) AS DOUBLE) AS idcg
  FROM disc d CROSS JOIN hist h
)
SELECT {_NDCG_K} AS k, h.n3 AS n_grade3, h.n2 AS n_grade2,
       h.n1 AS n_grade1,
       round(dcg.dcg, 6) AS dcg,
       round(ideal.idcg, 6) AS idcg,
       CASE WHEN ideal.idcg > 0
            THEN round(dcg.dcg / ideal.idcg, 6) ELSE 0.0 END AS ndcg
FROM dcg CROSS JOIN ideal CROSS JOIN hist h
"""


@query("q_eval_ndcg", oracle=_ndcg_oracle_sql())
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} for a graded-relevance retrieval eval — the ranking
    metric q_eval_retrieval's binary precision/recall/MRR cannot
    express: grade = number of standing-query terms a document
    contains (0-3, the deterministic graded proxy), the RANKER is raw
    term-frequency sum (deliberately not the grade — a one-term
    tf-spammer outranking a three-term doc is exactly the ranking
    error NDCG penalizes), gains are 2^g−1 and the discount table
    1/log2(r+1) is precomputed ONCE in Python and injected into both
    engines as identical 12dp literals (no cross-engine libm risk at
    all). IDCG fills the k slots from the corpus grade HISTOGRAM
    (n3/n2/n1 counts), never sorting the corpus by grade.

    Scale shape: one map-only pass computes (score, grade) per doc;
    top-k via orderBy+limit (TakeOrderedAndProject — per-task k-heaps,
    no global sort); DCG joins the ≤k frame to the k-row literal
    discount spine; IDCG needs only the three histogram integers.
    10-term sums are 9dp-DECIMAL armored (even a 10-row double sum is
    merge-order-dependent).
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def _tf(term):
        # NOTE: a two-param lambda would make F.filter pass the array
        # INDEX as the second argument — bind the term via closure.
        return F.size(F.filter(words, lambda w: w == term))

    tf_cols = [_tf(t).alias(f"tf{i}") for i, t in enumerate(_NDCG_QUERY)]
    g = d.select("doc_id", *tf_cols).select(
        "doc_id",
        sum(
            [F.col(f"tf{i}") for i in range(len(_NDCG_QUERY))], F.lit(0)
        ).alias("score"),
        sum(
            [
                (F.col(f"tf{i}") > 0).cast("int")
                for i in range(len(_NDCG_QUERY))
            ],
            F.lit(0),
        ).alias("grade"),
    )
    topk = (
        g.orderBy(F.col("score").desc(), "doc_id")
        .limit(_NDCG_K)
        .select(
            "grade",
            F.row_number()
            .over(
                W.partitionBy(bounded_part(F.col("score"))).orderBy(
                    F.col("score").desc(), "doc_id"
                )
            )
            .alias("rnk"),
        )
    )
    disc = spark.createDataFrame(
        [(r, _NDCG_DISC[r]) for r in _NDCG_DISC], "rnk int, disc double"
    )
    gain = (
        F.when(F.col("grade") == 3, 7)
        .when(F.col("grade") == 2, 3)
        .when(F.col("grade") == 1, 1)
        .otherwise(0)
    )
    dcg = (
        topk.join(F.broadcast(disc), "rnk")
        .agg(
            F.sum(
                F.round(gain * F.col("disc"), 9).cast("decimal(18,9)")
            )
            .cast("double")
            .alias("dcg")
        )
    )
    hist = g.agg(
        F.sum((F.col("grade") == 3).cast("long")).cast("long").alias("n3"),
        F.sum((F.col("grade") == 2).cast("long")).cast("long").alias("n2"),
        F.sum((F.col("grade") == 1).cast("long")).cast("long").alias("n1"),
    )
    ideal_grade = (
        F.when(F.col("rnk") <= F.col("n3"), 3)
        .when(F.col("rnk") <= F.col("n3") + F.col("n2"), 2)
        .when(F.col("rnk") <= F.col("n3") + F.col("n2") + F.col("n1"), 1)
        .otherwise(0)
    )
    ideal_gain = (
        F.when(ideal_grade == 3, 7)
        .when(ideal_grade == 2, 3)
        .when(ideal_grade == 1, 1)
        .otherwise(0)
    )
    ideal = (
        disc.crossJoin(F.broadcast(hist))
        .agg(
            F.sum(
                F.round(ideal_gain * F.col("disc"), 9).cast(
                    "decimal(18,9)"
                )
            )
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .crossJoin(F.broadcast(hist))
        .select(
            F.lit(_NDCG_K).alias("k"),
            F.col("n3").alias("n_grade3"),
            F.col("n2").alias("n_grade2"),
            F.col("n1").alias("n_grade1"),
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.when(
                F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
            )
            .otherwise(0.0)
            .alias("ndcg"),
        )
    )


q_eval_ndcg.__doc__ = q_eval_ndcg.__doc__.format(k=_NDCG_K)


@query(
    "q_text_code_detect",
    # Pure regex/ratio features over the text column, identical
    # patterns both engines (regexp_count vs len(regexp_extract_all)
    # compute the same integer); the score is a literal-weighted
    # integer vote — no floats until the emitted ratios.
    oracle="""
WITH f AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[{}();=\\[\\]<>]')) AS BIGINT)
      AS n_code_punct,
    CAST(len(regexp_extract_all(text, '[a-z][A-Z]')) AS BIGINT)
      AS n_camel,
    CAST(len(regexp_extract_all(text, '\\b(def|return|import|class|'
             || 'void|int|function|var|const|if|else|for|while)\\b'))
         AS BIGINT) AS n_keywords,
    CAST(len(regexp_extract_all(text, '_[a-z]')) AS BIGINT)
      AS n_snake
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, n_code_punct, n_camel, n_keywords, n_snake,
    (CASE WHEN n_code_punct * 50 > n_chars THEN 1 ELSE 0 END)
    + (CASE WHEN n_camel + n_snake >= 3 THEN 1 ELSE 0 END)
    + (CASE WHEN n_keywords >= 2 THEN 1 ELSE 0 END) AS votes
  FROM f
)
SELECT doc_id, n_code_punct, n_keywords,
       CAST(n_camel + n_snake AS BIGINT) AS n_ident_style,
       round(n_code_punct * 1.0 / n_chars, 6) AS punct_density,
       votes >= 2 AS is_code
FROM s ORDER BY doc_id
""",
)
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector — the curation gate q_text_lang and
    q_text_quality don't cover: pretraining mixes budget code and
    prose SEPARATELY (and a prose-quality filter mis-scores code as
    garbage), so the pipeline needs a cheap router. Three integer
    votes: code-punctuation density ({};()=[]<> above 2% of chars),
    identifier styling (camelCase + snake_case occurrences), and
    reserved-keyword hits — is_code on 2 of 3. Deliberately heuristic
    and fully relational: the same compressed-feature approach as the
    q_text_lang n-gram router, tuned for the "which bucket does this
    byte budget belong to" decision, not AST fidelity.

    Scale shape: map-only regex counts over the text column (one scan,
    whole-stage codegen, no shuffle at all — the output is per-doc);
    every feature an exact integer, the vote a literal-weighted
    integer comparison, one IEEE division for the emitted density.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t).cast("long")
    n_punct = F.regexp_count(t, F.lit(r"[{}();=\[\]<>]")).cast("long")
    n_camel = F.regexp_count(t, F.lit(r"[a-z][A-Z]")).cast("long")
    n_kw = F.regexp_count(
        t,
        F.lit(
            r"\b(def|return|import|class|void|int|function|var|const"
            r"|if|else|for|while)\b"
        ),
    ).cast("long")
    n_snake = F.regexp_count(t, F.lit(r"_[a-z]")).cast("long")
    votes = (
        (n_punct * 50 > n_chars).cast("int")
        + ((n_camel + n_snake) >= 3).cast("int")
        + (n_kw >= 2).cast("int")
    )
    return d.select(
        "doc_id",
        n_punct.alias("n_code_punct"),
        n_kw.alias("n_keywords"),
        (n_camel + n_snake).cast("long").alias("n_ident_style"),
        F.round(n_punct * 1.0 / n_chars, 6).alias("punct_density"),
        (votes >= 2).alias("is_code"),
    ).orderBy("doc_id")


_NB_PRED_PREFIX = """
WITH {tok_cte}cls AS (
  SELECT lang,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok GROUP BY lang
),
vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_all
        FROM tok),
wc AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY lang, w
),
lik AS (
  -- smoothed log-likelihood for EVERY (lang, vocab word) cell,
  -- including zero-count cells (the grid join): ln((c+1)/(n_l+V))
  SELECT cls.lang, vw.w,
    CAST(round(ln((COALESCE(wc.c, 0) + 1.0)
                  / (cls.n_tokens + vocab.v)), 9)
         AS DECIMAL(12,9)) AS logp
  FROM cls
  CROSS JOIN (SELECT DISTINCT w FROM tok) vw
  CROSS JOIN vocab
  LEFT JOIN wc ON wc.lang = cls.lang AND wc.w = vw.w
),
prior AS (
  SELECT cls.lang,
    CAST(round(ln(CAST(cls.n_docs AS DOUBLE) / tot.n_all), 9)
         AS DECIMAL(12,9)) AS logprior
  FROM cls CROSS JOIN tot
),
bow AS (
  -- bag-of-words compression BEFORE the ×|langs| fan-out: a doc's
  -- repeated words collapse to one (doc, w, cnt) row, so the lik
  -- join and the score aggregate touch distinct-word rows, not raw
  -- tokens; cnt·logp is an exact DECIMAL product.
  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY doc_id, lang, w
),
raw_score AS (
  -- prior deliberately NOT joined here: attaching a 5-row table to
  -- the token×lang frame on lang alone shuffles the whole frame onto
  -- |langs| keys (measured: a 5-key SortMergeJoin skew wall at 20x);
  -- it joins the AGGREGATED doc×lang frame below instead.
  SELECT t.doc_id, t.lang AS true_lang, lik.lang AS cand,
         CAST(sum(CAST(t.cnt AS DECIMAL(18,0)) * lik.logp)
              AS DECIMAL(38,9)) AS s_lik
  FROM bow t
  JOIN lik ON lik.w = t.w
  GROUP BY t.doc_id, t.lang, lik.lang
),
score AS (
  SELECT r.doc_id, r.true_lang, r.cand, r.s_lik + p.logprior AS s
  FROM raw_score r JOIN prior p ON p.lang = r.cand
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, cand) AS rk
  FROM score
)"""

_NB_CONF_TAIL = """,
conf AS (
  SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM pred WHERE rk = 1 GROUP BY true_lang, pred_lang
),
acc AS (
  SELECT CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
              AS BIGINT) AS n_right,
         CAST(sum(n) AS BIGINT) AS n_docs
  FROM conf
)
SELECT c.true_lang, c.pred_lang, c.n,
       round(CAST(a.n_right AS DOUBLE) / a.n_docs, 6) AS accuracy
FROM conf c CROSS JOIN acc a
ORDER BY c.true_lang, c.pred_lang
"""

_NB_SQL_BODY = _NB_PRED_PREFIX + _NB_CONF_TAIL


@query(
    "q_ml_naive_bayes",
    # Smoothed likelihoods are lns of IDENTICAL rationals (integer
    # counts / integer totals) under the 9dp ln-contract; per-doc
    # class scores are exact DECIMAL sums (order-free), so the argmax
    # (score desc, lang asc) picks the same language in both engines.
    oracle=_NB_SQL_BODY.format(
        tok_cte=(
            "tok AS (\n"
            "  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w\n"
            "  FROM documents\n"
            "),\n"
        ),
    ),
)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier — trained AND
    evaluated in one relational plan: per-language Laplace-smoothed
    token log-likelihoods over the FULL (language × vocab) grid (the
    zero-count cells are where NB lives — omitting them silently
    scores unseen words as impossible), document scores as exact
    DECIMAL sums of 9dp-contract lns plus the log-prior, argmax with
    a language tiebreak, and the resubstitution confusion matrix.
    q_text_lang routes by a FIXED marker vocabulary; this LEARNS the
    class-conditional distributions from the corpus itself — the
    supervised counterpart, and the third member of the relational-ML
    family (q_ml_linreg: continuous; q_ml_logreg: binary; this:
    multiclass).

    Scale shape: training is two grouped counts (per-class, per
    (class, word)); the likelihood grid is |langs|×|vocab| —
    dimension-sized; scoring joins exploded tokens to the grid
    (fan-out |langs| per token — the honest cost, map-side after one
    broadcastable grid) and reduces per (doc, lang); the argmax is a
    doc-partitioned window. Confusion output is |langs|².
    """
    d = load_table(spark, sf_dir, "documents")
    # The token frame feeds FOUR consumers (class counts, vocab, word
    # counts, scoring); SQL CTEs are inlined per reference, so the
    # explode would otherwise run four times over the corpus. One
    # localCheckpoint materializes it once — the standard training-
    # pass cache point. (The dominant 20x cost was the scoring
    # aggregate, fixed by the bag-of-words compression in the SQL
    # body: 40.6s -> 21.7s stressed, ratio 13.1x -> 10.3x.)
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).localCheckpoint()
    tok.createOrReplaceTempView("nb_tok")
    return spark.sql(_NB_SQL_BODY.format(tok_cte="tok AS (SELECT * FROM nb_tok),\n"))


_MCNEMAR_TAIL = """,
base AS (
  -- majority-class baseline: the most frequent training label
  -- (count desc, lang asc tiebreak) predicted for every doc
  SELECT lang AS blang FROM cls ORDER BY n_docs DESC, lang LIMIT 1
),
paired AS (
  SELECT p.doc_id,
    CASE WHEN p.pred_lang = p.true_lang THEN 1 ELSE 0 END AS nb_right,
    CASE WHEN base.blang = p.true_lang THEN 1 ELSE 0 END AS base_right
  FROM pred p CROSS JOIN base WHERE p.rk = 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN nb_right = 1 AND base_right = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN nb_right = 0 AND base_right = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(nb_right) AS BIGINT) AS nb_n_right,
    CAST(sum(base_right) AS BIGINT) AS base_n_right
  FROM paired
)
SELECT n_docs, b AS nb_only_right, c AS base_only_right,
       round(CAST(nb_n_right AS DOUBLE) / n_docs, 6) AS nb_accuracy,
       round(CAST(base_n_right AS DOUBLE) / n_docs, 6) AS base_accuracy,
       CASE WHEN b + c > 0
            THEN round((abs(CAST(b AS DOUBLE) - c) - 1)
                       * (abs(CAST(b AS DOUBLE) - c) - 1) / (b + c), 6)
            ELSE 0.0 END AS mcnemar_chi2,
       CASE WHEN b + c > 0
            THEN (abs(CAST(b AS DOUBLE) - c) - 1)
                 * (abs(CAST(b AS DOUBLE) - c) - 1) / (b + c) > 3.841
            ELSE false END AS nb_significantly_different
FROM m
"""


@query(
    "q_eval_mcnemar",
    # The SAME naive-Bayes prediction chain (shared _NB_PRED_PREFIX —
    # one model, provably) paired per-document against the majority-
    # class baseline; discordant counts exact integers, the continuity-
    # corrected chi-square one IEEE chain, 3.841 the usual literal.
    oracle=(
        _NB_PRED_PREFIX.format(
            tok_cte=(
                "tok AS (\n"
                "  SELECT doc_id, lang, unnest(string_split(text, ' '))"
                " AS w\n"
                "  FROM documents\n"
                "),\n"
            ),
        )
        + _MCNEMAR_TAIL
    ),
)
def q_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test — does the learned classifier ACTUALLY
    beat the majority-class baseline on the same documents? Accuracy
    deltas on shared eval sets are paired data: only the DISCORDANT
    documents (one model right, the other wrong) carry evidence, and
    the continuity-corrected χ² = (|b−c|−1)²/(b+c) is the correct
    test — two models can differ by 3 accuracy points and still be
    statistically indistinguishable when b ≈ c. The model-comparison
    gate every "new model is better" claim needs, run here on
    q_ml_naive_bayes vs the strongest no-information baseline; the
    prediction chain is SHARED SQL with the NB op, so the compared
    model is provably the registered one.

    Scale shape: the NB prediction chain's cost (see q_ml_naive_bayes)
    plus one map-side pairing against a 1-row broadcast baseline and
    ONE aggregate to the four paired counts; the test statistic is
    arithmetic on a single row.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).localCheckpoint()
    tok.createOrReplaceTempView("mcnemar_tok")
    return spark.sql(
        _NB_PRED_PREFIX.format(
            tok_cte="tok AS (SELECT * FROM mcnemar_tok),\n"
        )
        + _MCNEMAR_TAIL
    )


@query(
    "q_sample_balanced",
    # The kept set is fully deterministic (md5-hash order per class,
    # vec_id tiebreak), so the oracle verifies WHICH rows were kept
    # via the per-class id checksum, not just how many.
    oracle="""
WITH h AS (
  SELECT vec_id, label,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT
           AS hv
  FROM embeddings
),
m AS (
  SELECT CAST(min(cnt) AS BIGINT) AS n_min
  FROM (SELECT count(*) AS cnt FROM h GROUP BY label)
),
r AS (
  SELECT vec_id, label, hv,
         row_number() OVER (PARTITION BY label ORDER BY hv, vec_id) AS rk
  FROM h
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN rk <= m.n_min THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN rk <= m.n_min THEN vec_id ELSE 0 END) AS BIGINT)
         AS kept_id_sum,
       sum(CASE WHEN rk <= m.n_min THEN 1 ELSE 0 END) = max(m.n_min)
         AS kept_ok
FROM r CROSS JOIN m
GROUP BY label ORDER BY label
""",
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced exact-quota downsampling of the embedding corpus:
    every label keeps exactly n_min = |smallest class| members, chosen
    by md5-hash order (deterministic, retry/append-stable — the
    q_split_hash doctrine) — the rebalancing step before training a
    classifier on skewed labels, where naive Bernoulli thinning
    (q_sample_mix's shape) only hits the quota in expectation and a
    LIMIT-per-class is nondeterministic under ties and reruns.

    Scale shape: the exact quota needs a per-class rank, and rank is
    the ``dist_cumsum`` spine with ``part_cols=[label]`` — hash-valued
    equi-depth buckets, so no class ever sorts on one partition (the
    q_rfm gate's construction applied to sampling). One reduce for
    n_min (broadcast 1-row), one value-bucketed shuffle for the rank,
    one map-side filter. The per-class kept-id checksum ships so the
    selection itself (not just its size) is verified cross-engine.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    e = load_table(spark, sf_dir, "embeddings")
    h = e.select(
        "vec_id",
        "label",
        F.conv(
            F.substring(
                F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    ).withColumn("one", F.lit(1))
    m = F.broadcast(
        h.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("n_min"))
    )
    r = dist_cumsum(
        h, "hv", ["one"], part_cols=["label"], tiebreak=["vec_id"]
    ).select("vec_id", "label", F.col("cum_one").alias("rk"))
    keep = F.col("rk") <= F.col("n_min")
    return (
        r.crossJoin(m)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(keep.cast("int")).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("vec_id")).otherwise(0))
            .cast("long")
            .alias("kept_id_sum"),
            (F.sum(keep.cast("int")) == F.max("n_min")).alias("kept_ok"),
        )
        .orderBy("label")
    )


@query(
    "q_text_novelty",
    # First-claimant = min doc_id per distinct shingle (exact integer
    # argmin); per-doc novelty is an integer ratio; corpus novelty
    # curve is the |docs|-frame share. Shingles replay the q_dedup
    # 3-gram construction verbatim.
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
fo AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
),
per AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh JOIN fo USING (shingle)
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
FROM per ORDER BY doc_id
""",
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    3-word shingles that NO earlier document (doc_id order = ingest
    order) has claimed — the incremental-information signal dedup
    thresholds can't give: a doc can clear every near-dup check yet
    contribute almost nothing new (boilerplate remixes), and novelty
    ~0 is exactly the "skip it" verdict a curation pipeline wants for
    marginal additions. The same first-claimant frame, keyed by
    corpus snapshot, is how "what did this WEEK'S crawl actually add"
    gets answered.

    Scale shape: the q_dedup_minhash shingle construction (distinct
    per doc, never the token stream), ONE groupBy(shingle) argmin for
    the first claimant (map-combinable), one shingle-keyed join back,
    one per-doc reduce — integer ratios out. Hot shingles cost one
    combiner row each; no pair joins anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    "  sequence(1, size(split(text, ' ')) - 2),"
                    "  i -> concat_ws(' ', split(text, ' ')[i - 1],"
                    "       split(text, ' ')[i], split(text, ' ')[i + 1])"
                    "))"
                )
            ).alias("shingle"),
        )
    )
    fo = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(fo, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("int")
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_sample_ess",
    # ESS = (Σw)²/Σw² on exact DECIMAL power sums per source; the
    # efficiency ratio and the uniform-weight sanity bound are single
    # IEEE steps.
    oracle="""
WITH w AS (
  SELECT source, CAST(n_chars AS DOUBLE) / 1000 AS wt FROM documents
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(wt AS DECIMAL(28,6))) AS DOUBLE) AS sw,
         CAST(SUM(CAST(wt * wt AS DECIMAL(38,6))) AS DOUBLE) AS sww
  FROM w GROUP BY source
)
SELECT source, n,
       CASE WHEN sww > 0 THEN round(sw * sw / sww, 6) END AS ess,
       CASE WHEN sww > 0 THEN round(sw * sw / sww / n, 6) END
         AS efficiency,
       CASE WHEN sww > 0 THEN sw * sw / sww <= n + 1e-9 ELSE true END
         AS ess_le_n
FROM s ORDER BY source
""",
)
def q_sample_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of length-proportional importance weights
    per source — the diagnostic every weighted-sampling design
    (q_sample_weighted's A-Res draw, q_mix_temperature's allocations)
    must report before anyone trusts a weighted estimate: ESS =
    (Σw)²/Σw² is how many UNIFORM samples the weighted set is worth;
    efficiency = ESS/n near 1 means weights are benign, near 0 means a
    few heavy documents dominate and the weighted mean's variance is a
    lie. Kish's formula, the survey-statistics standard.

    Scale shape: ONE partial-aggregated pass to per-source decimal
    power sums (the q_agg_stats doctrine — order-free under AQE merge);
    |sources|-row output; the ESS ≤ n invariant ships as a checked
    boolean.
    """
    d = load_table(spark, sf_dir, "documents")
    wt = F.col("n_chars").cast("double") / 1000
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(wt.cast("decimal(28,6)")).cast("double").alias("sw"),
        F.sum((wt * wt).cast("decimal(38,6)"))
        .cast("double")
        .alias("sww"),
    )
    ok = F.col("sww") > 0
    ess = F.col("sw") * F.col("sw") / F.col("sww")
    return s.select(
        "source",
        "n",
        F.when(ok, F.round(ess, 6)).alias("ess"),
        F.when(ok, F.round(ess / F.col("n"), 6)).alias("efficiency"),
        F.when(ok, ess <= F.col("n") + 1e-9)
        .otherwise(F.lit(True))
        .alias("ess_le_n"),
    ).orderBy("source")


_KEYNESS_TOPK = 5


@query(
    "q_text_keyness",
    # Each ln rides the 9dp-round-then-DECIMAL contract; O·ln terms
    # stay exact DECIMAL products, so the per-source ranking key is an
    # exact decimal and the top-5 cut cannot flip between engines.
    oracle=f"""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
sc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS o1
  FROM w WHERE word != '' GROUP BY 1, 2
),
wt AS (
  SELECT word, CAST(count(*) AS BIGINT) AS tw
  FROM w WHERE word != '' GROUP BY 1
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n1
  FROM w WHERE word != '' GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w WHERE word != ''),
g AS (
  SELECT sc.source, sc.word, sc.o1, wt.tw - sc.o1 AS o2,
         wt.tw * CAST(st.n1 AS DOUBLE) / tot.n AS e1,
         wt.tw * CAST(tot.n - st.n1 AS DOUBLE) / tot.n AS e2
  FROM sc JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tot
),
k AS (
  SELECT source, word, o1,
         2 * (CAST(o1 AS DECIMAL(18,0))
              * CAST(round(ln(o1 / e1), 9) AS DECIMAL(11,9))
              + CASE WHEN o2 > 0
                     THEN CAST(o2 AS DECIMAL(18,0))
                          * CAST(round(ln(o2 / e2), 9) AS DECIMAL(11,9))
                     ELSE 0 END) AS g2
  FROM g
),
r AS (
  SELECT source, word, o1, g2,
         row_number() OVER (PARTITION BY source
                            ORDER BY g2 DESC, word) AS rnk
  FROM k
)
SELECT source, rnk, word, o1,
       round(CAST(g2 AS DOUBLE), 6) AS g2
FROM r WHERE rnk <= {_KEYNESS_TOPK}
ORDER BY source, rnk
""",
)
def q_text_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood keyness (Dunning's G²) per source: the top-5
    words each source OVER-uses relative to the rest of the corpus —
    the corpus-linguistics standard for "what makes this source
    sound like itself", and the statistically honest replacement for
    raw tf-idf keyword lists when comparing subcorpora (G² weighs the
    evidence, so one mention in a tiny source doesn't outrank a
    thousand in a large one). Reads as a per-source fingerprint the
    mix/curation reports can cite.

    Scale shape: one exploded count to (source, word) cells and word
    totals (both map-combinable), a word-keyed join (the vocab axis —
    never the token stream) plus two broadcast dimension frames; G²
    terms are exact DECIMAL products of integer counts with
    9dp-contract ln factors, so the ranking key is exact and the
    per-source top-5 rides WindowGroupLimit.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    sc_ = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("o1")
    )
    wt = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("tw"))
    st = F.broadcast(
        w.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    )
    tot = F.broadcast(w.agg(F.count(F.lit(1)).cast("long").alias("n")))
    g = (
        sc_.join(wt, "word")
        .join(st, "source")
        .crossJoin(tot)
        .select(
            "source",
            "word",
            "o1",
            (F.col("tw") - F.col("o1")).alias("o2"),
            (
                F.col("tw") * F.col("n1").cast("double") / F.col("n")
            ).alias("e1"),
            (
                F.col("tw")
                * (F.col("n") - F.col("n1")).cast("double")
                / F.col("n")
            ).alias("e2"),
        )
    )
    t1 = F.col("o1").cast("decimal(18,0)") * F.round(
        F.log(F.col("o1") / F.col("e1")), 9
    ).cast("decimal(11,9)")
    t2 = F.when(
        F.col("o2") > 0,
        F.col("o2").cast("decimal(18,0)")
        * F.round(F.log(F.col("o2") / F.col("e2")), 9).cast(
            "decimal(11,9)"
        ),
    ).otherwise(F.lit(0).cast("decimal(29,9)"))
    k = g.select(
        "source", "word", "o1", (2 * (t1 + t2)).alias("g2")
    )
    r = k.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.col("g2").desc(), "word")
        ),
    ).filter(F.col("rnk") <= _KEYNESS_TOPK)
    return r.select(
        "source",
        "rnk",
        "word",
        "o1",
        F.round(F.col("g2").cast("double"), 6).alias("g2"),
    ).orderBy("source", "rnk")


@query(
    "q_text_source_divergence",
    # The ln-ratio args are ratios of exact BIGINT cross products
    # (2*c1*n2 / (c1*n2 + c2*n1)); each ln rides the 9dp-round-then-
    # DECIMAL contract and multiplies an integer count (the keyness
    # discipline), so all sums are exact DECIMAL; absent-word mass
    # folds into one closed-form ln2 term.
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
sc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS c1
  FROM w WHERE word != '' GROUP BY 1, 2
),
wt AS (
  SELECT word, CAST(count(*) AS BIGINT) AS tw
  FROM w WHERE word != '' GROUP BY 1
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n1
  FROM w WHERE word != '' GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w WHERE word != ''),
g AS (
  SELECT sc.source, sc.c1, wt.tw - sc.c1 AS c2,
         sc.c1 * (tot.n - st.n1) AS a, (wt.tw - sc.c1) * st.n1 AS b
  FROM sc JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tot
),
s AS (
  SELECT source,
         sum(CAST(c1 AS DECIMAL(18,0))
             * CAST(round(ln(CASE WHEN a + b > 0
                                  THEN 2.0 * a / (a + b) END), 9)
                    AS DECIMAL(11,9)))
           AS s1,
         sum(CASE WHEN c2 > 0 AND a + b > 0
                  THEN CAST(c2 AS DECIMAL(18,0))
                       * CAST(round(ln(2.0 * b / (a + b)), 9)
                              AS DECIMAL(11,9))
                  ELSE 0 END) AS s2,
         CAST(sum(c2) AS BIGINT) AS t2,
         CAST(count(*) AS BIGINT) AS vocab
  FROM g GROUP BY source
),
j AS (
  SELECT s.source, st.n1, tot.n - st.n1 AS n2, s.vocab,
         0.5 * CAST(s.s1 AS DOUBLE) / st.n1
         + 0.5 * (CAST(s.s2 AS DOUBLE)
                  + (tot.n - st.n1 - s.t2) * 0.693147181)
               / (tot.n - st.n1) AS jsd
  FROM s JOIN st USING (source) CROSS JOIN tot
)
SELECT source, n1 AS n_tokens, CAST(n2 AS BIGINT) AS n_rest_tokens, vocab,
       CASE WHEN n2 > 0 THEN round(jsd, 6) END AS jsd_nats,
       CASE WHEN n2 > 0 THEN round(jsd / 0.693147181, 6) END
         AS jsd_normalized
FROM j ORDER BY source
""",
    scan_repair=False,  # slower with the repair: keyed exchange after scan (r12 A/B)
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the REST of the corpus — the distribution-level "is this
    source different" readout a pretraining-mix owner checks before
    q_mix_temperature reweights anything: JSD ≈ 0 means the source
    adds volume, not diversity; JSD near ln 2 means a vocabulary of
    its own (worth its own mix weight, or a contamination signal).
    Symmetric and bounded (unlike raw KL, which explodes on any word
    the reference side lacks); per-word detail is q_text_keyness's
    job, this is the one-number-per-source summary.

    Scale shape: one explode→(source, word) reduce (map-combinable,
    the data-sized pass); the JSD folds over the per-source vocab
    frame as exact integer-count × 9dp-DECIMAL-ln products (both
    ln-ratio arguments are ratios of BIGINT cross products, so both
    engines round the same doubles); mass from words ABSENT in the
    source never materializes — it collapses algebraically into one
    (n₂ − t₂)·ln 2 closed-form term. Output is |sources| rows.
    Degenerate guard: a single-source corpus has no "rest" and emits
    NULL divergences, not a division crash.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    sc = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    wt = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("tw"))
    st = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n1")
    )
    tot = F.broadcast(w.agg(F.count(F.lit(1)).cast("long").alias("n")))
    g = (
        sc.join(wt, "word")
        .join(F.broadcast(st), "source")
        .crossJoin(tot)
        .select(
            "source",
            "c1",
            (F.col("tw") - F.col("c1")).alias("c2"),
            (F.col("c1") * (F.col("n") - F.col("n1"))).alias("a"),
            ((F.col("tw") - F.col("c1")) * F.col("n1")).alias("b"),
        )
    )
    # a + b = 0 exactly when the corpus has a single source (n2 = 0,
    # c2 = 0) — the whole JSD is NULL-guarded downstream, but ANSI
    # division must be guarded HERE too (single-source corpora are the
    # single-row-gate case, not a hypothetical).
    ab = F.col("a") + F.col("b")
    ln1 = F.round(
        F.log(F.when(ab > 0, 2.0 * F.col("a") / ab)), 9
    ).cast("decimal(11,9)")
    ln2t = F.round(
        F.log(F.when(ab > 0, 2.0 * F.col("b") / ab)), 9
    ).cast("decimal(11,9)")
    s = g.groupBy("source").agg(
        F.sum(F.col("c1").cast("decimal(18,0)") * ln1).alias("s1"),
        F.sum(
            F.when(
                F.col("c2") > 0,
                F.col("c2").cast("decimal(18,0)") * ln2t,
            ).otherwise(F.lit(0).cast("decimal(30,9)"))
        ).alias("s2"),
        F.sum("c2").cast("long").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    ln2 = 0.693147181
    n2 = F.col("n") - F.col("n1")
    jsd = 0.5 * F.col("s1").cast("double") / F.col("n1") + 0.5 * (
        F.col("s2").cast("double") + (n2 - F.col("t2")) * ln2
    ) / n2
    return (
        s.join(st, "source")
        .crossJoin(tot)
        .select(
            "source",
            F.col("n1").alias("n_tokens"),
            n2.cast("long").alias("n_rest_tokens"),
            "vocab",
            F.when(n2 > 0, F.round(jsd, 6)).alias("jsd_nats"),
            F.when(n2 > 0, F.round(jsd / ln2, 6)).alias("jsd_normalized"),
        )
        .orderBy("source")
    )


@query(
    "q_text_char_entropy",
    # Per-doc entropy = ln L − (Σ n_c·ln n_c)/L with integer char
    # counts; every ln rides the 9dp-round-then-DECIMAL contract and
    # multiplies an integer, so the per-doc value is one deterministic
    # IEEE chain; per-source means re-armor the 9dp-rounded doc values.
    oracle="""
WITH ch AS (
  SELECT doc_id, source, unnest(string_split(text, '')) AS c
  FROM documents
),
cc AS (
  SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS n_c
  FROM ch GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id, source,
         CAST(sum(n_c) AS BIGINT) AS len,
         sum(CAST(n_c AS DECIMAL(18,0))
             * CAST(round(ln(n_c), 9) AS DECIMAL(11,9))) AS snl
  FROM cc GROUP BY 1, 2
),
h AS (
  SELECT doc_id, source, len,
         CASE WHEN len > 0
              THEN round(CAST(round(ln(len), 9) AS DOUBLE)
                         - CAST(snl AS DOUBLE) / len, 9) END AS ent
  FROM per
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(ent AS DECIMAL(18,9))) AS DOUBLE)
             / count(ent), 6) AS avg_entropy,
       round(min(ent), 6) AS min_entropy,
       round(max(ent), 6) AS max_entropy,
       CAST(count(*) FILTER (WHERE ent < 3.0) AS BIGINT)
         AS n_low_entropy
FROM h GROUP BY source ORDER BY source
""",
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, rolled up per
    source (mean/min/max + a low-entropy count at 3.0 nats) — the
    cheapest compressibility proxy in the quality-filter toolbox:
    boilerplate, repeated padding, base64 blobs and single-character
    spam all sit far from natural text's ~4.1-nat band, and unlike
    q_text_repetition (n-gram level) this catches CHARACTER-level
    degeneracy that token heuristics miss. The standard CCNet/Gopher-
    style pre-filter signal, as an operator.

    Scale shape: char explode → (doc, char) counts is the data-sized
    pass, but each doc contributes at most |alphabet| rows out of the
    first reduce (bounded fan-in per doc); per-doc entropy is the
    identity H = ln L − (Σ n_c ln n_c)/L — integer counts times
    9dp-DECIMAL lns (the keyness armor), one IEEE chain per doc,
    9dp-quantized before the per-source mean so merge order can never
    wobble the report. Output is |sources| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", "source", F.explode(F.split("text", "")).alias("c")
    )
    cc = ch.groupBy("doc_id", "source", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    per = cc.groupBy("doc_id", "source").agg(
        F.sum("n_c").cast("long").alias("len"),
        F.sum(
            F.col("n_c").cast("decimal(18,0)")
            * F.round(F.log("n_c"), 9).cast("decimal(11,9)")
        ).alias("snl"),
    )
    ent = F.when(
        F.col("len") > 0,
        F.round(
            F.round(F.log("len"), 9).cast("double")
            - F.col("snl").cast("double") / F.col("len"),
            9,
        ),
    )
    h = per.select("source", ent.alias("ent"))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("ent").cast("decimal(18,9)")).cast("double")
                / F.count("ent"),
                6,
            ).alias("avg_entropy"),
            F.round(F.min("ent"), 6).alias("min_entropy"),
            F.round(F.max("ent"), 6).alias("max_entropy"),
            F.sum((F.col("ent") < 3.0).cast("long"))
            .cast("long")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


@query(
    "q_text_lexical_diversity",
    # Token/type counts are exact integers; TTR family ratios are
    # single IEEE ops; the two lns ride the 9dp contract; per-doc TTRs
    # are 9dp-quantized into DECIMAL before the source-level mean.
    oracle="""
WITH w AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
t AS (SELECT doc_id, source, word FROM w WHERE word != ''),
per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS toks,
         CAST(count(DISTINCT word) AS BIGINT) AS typs
  FROM t GROUP BY 1, 2
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT word) AS BIGINT) AS n_types
  FROM t GROUP BY 1
),
docavg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         sum(CAST(round(CAST(typs AS DOUBLE) / toks, 9)
                  AS DECIMAL(18,9))) AS sttr
  FROM per_doc WHERE toks > 0 GROUP BY source
)
SELECT s.source, d.n_docs, s.n_tokens, s.n_types,
       round(CAST(s.n_types AS DOUBLE) / s.n_tokens, 6) AS ttr,
       round(s.n_types / sqrt(CAST(s.n_tokens AS DOUBLE)), 6) AS root_ttr,
       CASE WHEN s.n_tokens > 1 AND s.n_types > 0
            THEN round(CAST(round(ln(s.n_types), 9) AS DOUBLE)
                       / CAST(round(ln(s.n_tokens), 9) AS DOUBLE), 6)
       END AS herdan_c,
       round(CAST(d.sttr AS DOUBLE) / d.n_docs, 6) AS mean_doc_ttr
FROM per_src s JOIN docavg d USING (source)
ORDER BY s.source
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity panel per source: corpus TTR (types/tokens),
    Guiraud's root TTR, Herdan's C (ln types / ln tokens), and the
    mean per-DOCUMENT TTR — the vocabulary-richness signals a curation
    report reads beside q_text_vocab's raw counts. Raw TTR famously
    collapses as corpora grow (every new token is more likely seen);
    root TTR and Herdan's C are the length-corrected forms that stay
    comparable across sources of different sizes, and the per-doc
    mean is the spam detector (template farms have near-zero per-doc
    diversity at normal corpus-level TTR).

    Scale shape: explode → the (source, word) / (doc, word) distinct
    reduces are the data-sized passes (map-combinable; per-doc
    distinct fan-in is bounded by doc vocabulary); everything after
    lives on |sources| + |docs| frames. Two lns on the 9dp contract;
    per-doc ratios 9dp-quantized into DECIMAL before the mean so
    merge order can never wobble the report. Zero-token docs drop
    from the doc mean; a one-token source gets NULL Herdan (ln 1 = 0
    denominator), not a crash.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    per_doc = t.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("toks"),
        F.countDistinct("word").cast("long").alias("typs"),
    )
    per_src = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("word").cast("long").alias("n_types"),
    )
    docavg = (
        per_doc.filter(F.col("toks") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.round(
                    F.col("typs").cast("double") / F.col("toks"), 9
                ).cast("decimal(18,9)")
            ).alias("sttr"),
        )
    )
    herdan = F.round(F.log("n_types"), 9).cast("double") / F.round(
        F.log("n_tokens"), 9
    ).cast("double")
    return (
        per_src.join(docavg, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 6
            ).alias("ttr"),
            F.round(
                F.col("n_types") / F.sqrt(F.col("n_tokens").cast("double")),
                6,
            ).alias("root_ttr"),
            F.when(
                (F.col("n_tokens") > 1) & (F.col("n_types") > 0), F.round(herdan, 6)
            ).alias("herdan_c"),
            F.round(
                F.col("sttr").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_ttr"),
        )
        .orderBy("source")
    )


@query(
    "q_text_pii_scan",
    # PII is PLANTED deterministically from doc_id (q_text_scrub's
    # convention) so the strict hash proves Java-regex and DuckDB-RE2
    # agree on match COUNTS, not just replacements; all outputs are
    # integer counts and single-division rates.
    oracle="""
WITH withpii AS (
  SELECT doc_id, source,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' reach user' || doc_id || '@example.com and admin'
                 || doc_id || '@test.org' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                         4, '0') ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' account ' || (1000000 + doc_id) ELSE '' END AS raw
  FROM documents
),
hits AS (
  SELECT source,
    len(regexp_extract_all(raw,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS emails,
    len(regexp_extract_all(raw, '\\+?1?-?555-[0-9]{4}')) AS phones,
    len(regexp_extract_all(raw, '\\b[0-9]{7,}\\b')) AS ids
  FROM withpii
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(emails) AS BIGINT) AS n_emails,
       CAST(sum(phones) AS BIGINT) AS n_phones,
       CAST(sum(ids) AS BIGINT) AS n_ids,
       CAST(count(*) FILTER (WHERE emails + phones + ids > 0) AS BIGINT)
         AS n_docs_with_pii,
       round(CAST(count(*) FILTER (WHERE emails + phones + ids > 0)
                  AS DOUBLE) / count(*), 6) AS pii_doc_rate
FROM hits GROUP BY source ORDER BY source
""",
)
def q_text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure audit per source: email / phone / long-numeric-id
    match counts and the share of documents carrying ANY hit — the
    measurement step that precedes q_text_scrub's redaction (you
    scrub everything, but you REPORT by source, because one feed
    contributing 40% PII docs is a supplier conversation, not a regex
    problem). Planted-PII determinism as in q_text_scrub: the
    fixture corpus is synthetic, so hits are planted from doc_id
    identically in both engines and the strict hash proves the two
    regex dialects agree on match counts.

    Scale shape: pure regexp_count projection (JVM codegen, no
    Python) + ONE map-combinable aggregate to |sources| rows; the
    scan is embarrassingly parallel at any scale and the report is
    dimension-sized. Rates are single IEEE divisions of exact counts.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com and admin"),
                F.col("doc_id").cast("string"),
                F.lit("@test.org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" account "), (F.col("doc_id") + 1000000).cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    hits = d.select(
        "source",
        F.regexp_count(
            raw, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        ).alias("emails"),
        F.regexp_count(raw, F.lit(r"\+?1?-?555-[0-9]{4}")).alias("phones"),
        F.regexp_count(raw, F.lit(r"\b[0-9]{7,}\b")).alias("ids"),
    )
    any_pii = (F.col("emails") + F.col("phones") + F.col("ids")) > 0
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("emails").cast("long").alias("n_emails"),
            F.sum("phones").cast("long").alias("n_phones"),
            F.sum("ids").cast("long").alias("n_ids"),
            F.sum(any_pii.cast("long")).cast("long").alias("n_docs_with_pii"),
            F.round(
                F.sum(any_pii.cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pii_doc_rate"),
        )
        .orderBy("source")
    )


@query(
    "q_text_kneser_ney",
    # Every count (bigram, history, continuation, type total) is an
    # exact BIGINT; each published probability is ONE parenthesized
    # IEEE chain over those integers, identical op-for-op in both
    # engines, then rounded. Top-20 selection orders by the exact
    # count with a lexicographic tiebreak.
    oracle="""
WITH w AS (
  SELECT string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS bigram
  FROM w CROSS JOIN LATERAL
    unnest(generate_series(1, len(ws) - 1)) AS t(i)
),
c2 AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS n2
  FROM bg GROUP BY 1, 2
),
h AS (
  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1,
         CAST(count(*) AS BIGINT) AS t1
  FROM c2 GROUP BY 1
),
r AS (SELECT w2, CAST(count(*) AS BIGINT) AS r2 FROM c2 GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c2)
SELECT w1, w2, n2,
       round(n2 / n1, 6) AS p_mle,
       round(r2 * 1.0 / n_types, 6) AS p_cont,
       round((greatest(n2 - 0.75, 0) / n1)
             + (((0.75 * t1) / n1) * (r2 * 1.0 / n_types)), 6) AS p_kn
FROM c2 JOIN h USING (w1) JOIN r USING (w2) CROSS JOIN tt
ORDER BY n2 DESC, w1, w2 LIMIT 20
""",
)
def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    D = 0.75) for the corpus's top-20 bigrams — the smoothing that
    actual n-gram LMs (KenLM and every corpus-quality filter built on
    one) use, where q_text_bigram_lm's raw MLE assigns zero mass to
    unseen continuations. The KN insight is published per row: the
    continuation probability r2/|types| ("how many distinct histories
    does w2 complete") replaces raw frequency in the smoothed mass, so
    a word that appears often but only after one history (e.g. the
    "Francisco" in "San Francisco") is correctly down-weighted as a
    novel continuation.

    Scale shape: one bigram explode → three map-combinable aggregates
    (bigram counts; per-history totals+types; per-continuation type
    counts) — vocab-sized tables joined back on their own keys
    (bigram-vocab-keyed shuffle joins, broadcast at sane vocab sizes),
    one O(1) type-total broadcast, then a TakeOrderedAndProject top-20
    (per-task k-heaps, no global sort). Nothing data-sized survives
    past the first aggregate at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    docs = d.filter(F.size(w) >= 2)
    bigrams = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    c2 = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        .select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
            "n2",
        )
        .localCheckpoint(eager=False)  # feeds h, r, tt and the re-join
    )
    h = c2.groupBy("w1").agg(
        F.sum("n2").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("t1"),
    )
    r = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("r2"))
    tt = c2.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    return (
        c2.join(h, "w1")
        .join(r, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "n2",
            F.round(F.col("n2") / F.col("n1"), 6).alias("p_mle"),
            F.round(F.col("r2") * 1.0 / F.col("n_types"), 6).alias("p_cont"),
            F.round(
                (F.greatest(F.col("n2") - 0.75, F.lit(0.0)) / F.col("n1"))
                + (
                    ((0.75 * F.col("t1")) / F.col("n1"))
                    * (F.col("r2") * 1.0 / F.col("n_types"))
                ),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.col("n2").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "q_text_langid_margin",
    # Marker scores are exact integers; per-doc margin is one IEEE
    # division of integers (deterministic, not order-dependent); the
    # per-source margin MEAN is order-dependent, so each margin goes
    # through the 9dp-round -> DECIMAL discipline before summing.
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['en'])}, w))) AS s_en,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['code'])}, w))) AS s_code,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({_sql_list(_LANG_MARKERS['data'])}, w))) AS s_data
  FROM documents
),
m AS (
  SELECT doc_id, source,
         s_en + s_code + s_data AS total,
         greatest(s_en, s_code, s_data)
           - (s_en + s_code + s_data
              - greatest(s_en, s_code, s_data)
              - least(s_en, s_code, s_data)) AS margin_raw
  FROM scored
),
per AS (
  SELECT doc_id, source, total,
         CASE WHEN total > 0
              THEN margin_raw / total ELSE NULL END AS margin,
         (total = 0 OR margin_raw / greatest(total, 1) < 0.1) AS low_conf
  FROM m
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (total = 0) AS BIGINT) AS n_zero_signal,
       CAST(count(*) FILTER (low_conf) AS BIGINT) AS n_low_conf,
       round(count(*) FILTER (low_conf) * 1.0 / count(*), 6)
         AS low_conf_share,
       round(CAST(sum(CAST(round(margin, 9) AS DECIMAL(28,12)))
                    FILTER (margin IS NOT NULL) AS DOUBLE)
             / count(*) FILTER (margin IS NOT NULL), 6) AS mean_margin
FROM per GROUP BY source ORDER BY source
""",
)
def q_text_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence audit: the margin between the top and
    runner-up marker scores, normalized by total signal, aggregated
    per source — the routing diagnostic a corpus pipeline needs before
    TRUSTING q_text_lang's argmax (route low-margin docs to a heavier
    classifier, drop zero-signal ones). A doc whose top two language
    scores tie carries no identification evidence regardless of how
    confident the argmax looks; per-source low-confidence shares are
    the dashboard that says WHICH ingest feed needs the expensive
    path.

    Scale shape: row-local codegen scoring (tiny marker vocabularies
    inlined as array literals, same as q_text_lang) → one
    map-combinable per-source aggregate; |sources|-row output. The
    margin mean is armored with the 9dp-round → DECIMAL order-free
    sum contract; every other output is an exact integer or one
    integer division.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def score(markers):
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(words, lambda t: F.array_contains(arr, t)))

    s_en = score(_LANG_MARKERS["en"])
    s_code = score(_LANG_MARKERS["code"])
    s_data = score(_LANG_MARKERS["data"])
    total = (s_en + s_code + s_data).alias("total")
    top = F.greatest(s_en, s_code, s_data)
    mid = (s_en + s_code + s_data) - top - F.least(s_en, s_code, s_data)
    m = d.select(
        "source",
        total,
        (top - mid).alias("margin_raw"),
    ).select(
        "source",
        "total",
        F.when(F.col("total") > 0, F.col("margin_raw") / F.col("total"))
        .alias("margin"),
        (
            (F.col("total") == 0)
            | (F.col("margin_raw") / F.greatest(F.col("total"), F.lit(1)) < 0.1)
        ).alias("low_conf"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("total") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_signal"),
            F.sum(F.when(F.col("low_conf"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_conf"),
            F.round(
                F.sum(F.when(F.col("low_conf"), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("low_conf_share"),
            F.round(
                F.sum(F.round(F.col("margin"), 9).cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.col("margin")),
                6,
            ).alias("mean_margin"),
        )
        .orderBy("source")
    )


@query(
    "q_sample_importance_clip",
    # Weights are exact integer token counts; the clip value is an
    # exact integer-rank p99 selection; clipped weights, both ESS
    # numerators/denominators and the clipped count are exact BIGINTs
    # — the two ESS divisions are the only floats.
    oracle="""
WITH w AS (
  SELECT len(string_split(text, ' ')) AS wt FROM documents
),
g AS (SELECT wt, count(*) AS cnt FROM w GROUP BY wt),
c AS (
  SELECT wt, CAST(sum(cnt) OVER (ORDER BY wt) AS BIGINT) AS cum FROM g
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
clip AS (
  SELECT CAST(min(CASE WHEN c.cum >= (n.n * 99 + 99) // 100
                       THEN c.wt END) AS BIGINT) AS p99
  FROM c CROSS JOIN n
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wt) AS BIGINT) AS sw,
         CAST(sum(wt * wt) AS BIGINT) AS sww,
         CAST(sum(least(wt, clip.p99)) AS BIGINT) AS swc,
         CAST(sum(least(wt, clip.p99) * least(wt, clip.p99)) AS BIGINT)
           AS swwc,
         CAST(count(*) FILTER (wt > clip.p99) AS BIGINT) AS n_clipped,
         CAST(max(clip.p99) AS BIGINT) AS clip_value
  FROM w CROSS JOIN clip
)
SELECT n, clip_value, n_clipped,
       round(CAST(sw AS DOUBLE) * sw / sww / n, 6) AS efficiency_before,
       round(CAST(swc AS DOUBLE) * swc / swwc / n, 6) AS efficiency_after
FROM s WHERE n > 0 AND sww > 0 AND swwc > 0
""",
)
def q_sample_importance_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated importance sampling: clip length-proportional weights
    at their exact p99 and report the ESS efficiency before/after —
    the standard variance-vs-bias repair for heavy-tailed weights
    (a handful of huge documents can drag Kish efficiency to 5%,
    q_sample_ess's diagnostic; clipping at p99 trades a bounded bias
    for most of that variance back, and THIS op prices the trade
    before any weighted estimate ships). Publishing n_clipped keeps
    the bias bounded and visible.

    Scale shape: weights are exact integer token counts; the p99 clip
    value is an integer-rank selection on the distinct-weight
    dist_cumsum spine (no sort buffer); both ESS ratios come from
    exact BIGINT power sums in ONE conditional pass against the 1-row
    broadcast clip value. Everything is exact until the two final
    divisions.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.size(F.split("text", " ")).alias("wt"))
    g = w.groupBy("wt").agg(F.count(F.lit(1)).alias("cnt"))
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    c = dist_cumsum(g, "wt", ["cnt"])
    n = F.broadcast(w.agg(F.count(F.lit(1)).cast("long").alias("n")))
    clip = F.broadcast(
        c.crossJoin(n)
        .agg(
            F.min(
                F.when(
                    F.col("cum_cnt") >= F.expr("(n * 99 + 99) div 100"),
                    F.col("wt"),
                )
            ).cast("long").alias("p99")
        )
    )
    wc = F.least(F.col("wt"), F.col("p99"))
    s = w.crossJoin(clip).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("wt").cast("long").alias("sw"),
        F.sum(F.col("wt") * F.col("wt")).cast("long").alias("sww"),
        F.sum(wc).cast("long").alias("swc"),
        F.sum(wc * wc).cast("long").alias("swwc"),
        F.sum(F.when(F.col("wt") > F.col("p99"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
        F.max("p99").cast("long").alias("clip_value"),
    )
    return (
        s.filter(
            (F.col("n") > 0) & (F.col("sww") > 0) & (F.col("swwc") > 0)
        )
        .select(
            "n",
            "clip_value",
            "n_clipped",
            F.round(
                F.col("sw").cast("double")
                * F.col("sw")
                / F.col("sww")
                / F.col("n"),
                6,
            ).alias("efficiency_before"),
            F.round(
                F.col("swc").cast("double")
                * F.col("swc")
                / F.col("swwc")
                / F.col("n"),
                6,
            ).alias("efficiency_after"),
        )
    )


@query(
    "q_text_fertility",
    # Token, word and byte counts are exact integers under the
    # engine-shared regex and UTF-8 length; fertility and
    # bytes-per-token are one division each per language row.
    oracle=f"""
WITH per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS words,
         CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT)
           AS tokens,
         CAST(sum(strlen(text)) AS BIGINT) AS bytes
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, words, tokens,
       round(tokens * 1.0 / words, 6) AS fertility,
       round(bytes * 1.0 / tokens, 6) AS bytes_per_token
FROM per ORDER BY lang
""",
)
def q_text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: tokens-per-word and
    bytes-per-token under the corpus's BPE-ish tokenizer — THE
    tokenizer-fairness metrics: a language whose fertility is 2× pays
    double the context window and double the inference cost for the
    same content, and bytes-per-token is the compression the tokenizer
    actually achieves per script. Per-doc token counts exist
    (q_text_tokens); this is the language-level readout tokenizer and
    mixture decisions are made from (a high-fertility language may
    need byte-fallback tuning or a bigger mixture share to see the
    same effective data).

    Scale shape: one map-combinable pass of row-local regex counts to
    |langs| rows; two divisions per row are the only floats. The regex
    and UTF-8 byte length are the engine-shared contracts from
    q_text_tokens / q_text_stats.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("words"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE))))
        .cast("long")
        .alias("tokens"),
        F.sum(F.octet_length("text")).cast("long").alias("bytes"),
    )
    return per.select(
        "lang",
        "n_docs",
        "words",
        "tokens",
        F.round(F.col("tokens") * 1.0 / F.col("words"), 6).alias(
            "fertility"
        ),
        F.round(F.col("bytes") * 1.0 / F.col("tokens"), 6).alias(
            "bytes_per_token"
        ),
    ).orderBy("lang")


@query(
    "q_text_effective_tokens",
    # Survivor selection is the exact-dedup rule (min doc_id per
    # digest); raw/effective token sums are exact BIGINTs; inflation
    # and share are one division each.
    oracle="""
WITH base AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY h),
per AS (
  SELECT b.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(b.n_tok) AS BIGINT) AS raw_tokens,
         CAST(count(*) FILTER (k.doc_id IS NOT NULL) AS BIGINT)
           AS eff_docs,
         CAST(sum(b.n_tok) FILTER (k.doc_id IS NOT NULL) AS BIGINT)
           AS eff_tokens
  FROM base b LEFT JOIN keep k ON b.doc_id = k.doc_id
  GROUP BY b.source
)
SELECT source, n_docs, raw_tokens, eff_docs, eff_tokens,
       round(raw_tokens * 1.0 / eff_tokens, 6) AS dup_inflation,
       round(eff_tokens * 1.0 / raw_tokens, 6) AS effective_share
FROM per ORDER BY source
""",
)
def q_text_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective (post-exact-dedup) token counts per source: raw vs
    surviving tokens under the canonical min-id survivor rule, with
    the duplication-inflation factor — the number mixture planning
    must use instead of raw counts: a source reporting 10B tokens at
    1.8× inflation contributes 5.6B EFFECTIVE tokens, and weighting by
    raw counts silently up-samples its duplicates (the q_mix_* family
    consumes exactly this corrected table at 100 TB).

    Scale shape: digest-only exact dedup (text never shuffles) →
    survivor set hash-joined back on doc_id (map-combinable per-source
    aggregate on each side); |sources| rows; two divisions per row.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    ).localCheckpoint(eager=False)  # feeds keep and the per-source agg
    keep = base.groupBy("h").agg(F.min("doc_id").alias("kdoc")).select(
        F.col("kdoc").alias("doc_id"), F.lit(1).alias("_keep")
    )
    per = (
        base.join(keep, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("raw_tokens"),
            F.sum(F.when(F.col("_keep").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("eff_docs"),
            F.sum(F.when(F.col("_keep").isNotNull(), F.col("n_tok")))
            .cast("long")
            .alias("eff_tokens"),
        )
    )
    return per.select(
        "source",
        "n_docs",
        "raw_tokens",
        "eff_docs",
        "eff_tokens",
        F.round(F.col("raw_tokens") * 1.0 / F.col("eff_tokens"), 6).alias(
            "dup_inflation"
        ),
        F.round(F.col("eff_tokens") * 1.0 / F.col("raw_tokens"), 6).alias(
            "effective_share"
        ),
    ).orderBy("source")


@query(
    "q_text_heaps",
    # Exact device twins: integer token/vocab cumulatives via window
    # sums, decile rank-crossing selection (smallest cum_tokens with
    # ct*10 >= q*T, ties to the earliest doc — cum_vocab is
    # nondecreasing in doc_id so min(cv) IS the earliest row's value),
    # and the log-log OLS through the 9dp ln-contract with exact
    # decimal sums cast to double BEFORE the closed-form slope.
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (
  SELECT doc_id, unnest(ws) AS word FROM w
),
tok2 AS (SELECT doc_id, word FROM tok WHERE word != ''),
nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok2 GROUP BY doc_id),
fo AS (SELECT word, min(doc_id) AS fd FROM tok2 GROUP BY word),
nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv FROM fo GROUP BY fd),
per AS (
  SELECT n.doc_id, n.nt, coalesce(v.nv, 0) AS nv
  FROM nt n LEFT JOIN nv v USING (doc_id)
),
cum AS (
  SELECT doc_id,
         sum(nt) OVER (ORDER BY doc_id) AS ct,
         sum(nv) OVER (ORDER BY doc_id) AS cv
  FROM per
),
tot AS (SELECT CAST(sum(nt) AS BIGINT) AS t FROM per),
dec AS (SELECT unnest(generate_series(1, 10)) AS q),
crossed AS (
  SELECT q, min(ct) AS mct
  FROM dec, cum, tot WHERE ct * 10 >= q * t GROUP BY q
),
pick AS (
  SELECT x.q, CAST(x.mct AS BIGINT) AS mct,
         CAST(min(c.cv) AS BIGINT) AS mcv
  FROM crossed x JOIN cum c ON c.ct = x.mct
  GROUP BY x.q, x.mct
),
pts AS (
  SELECT CAST(round(ln(mct), 9) AS DECIMAL(12,9)) AS x,
         CAST(round(ln(mcv), 9) AS DECIMAL(12,9)) AS y
  FROM pick WHERE mct > 0 AND mcv > 0
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM pts
),
b AS (
  SELECT CASE WHEN n * sxx - sx * sx <> 0
              THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
         END AS beta
  FROM s
)
SELECT CAST(p.q AS INT) AS decile,
       p.mct AS cum_tokens, p.mcv AS cum_vocab, b.beta
FROM pick p, b ORDER BY decile
""",
)
def q_text_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct-vocabulary
    size at each decile of the token stream (docs ordered by doc_id)
    plus the fitted Heaps exponent β from log V = log K + β·log N — the
    tokenizer-sizing and dedup-health diagnostic. A healthy fresh
    corpus grows vocabulary as N^β with β ≈ 0.4-0.6; β near 0 means the
    tail of the corpus adds no new vocabulary (duplicated or templated
    content — corroborates q_dedup_savings), β near 1 flags noise
    (OCR garbage / random strings minting a new "word" per token).

    Scale shape: tokens explode map-locally; per-word FIRST occurrence
    is one min() groupBy (map-combinable — the decontam/vocab shuffle
    shape, |vocab| rows out); per-doc new-vocab and token counts are
    |docs|-sized; the two cumulatives ride ``dist_cumsum`` (range
    buckets + broadcast offsets, no single-partition window); each
    decile checkpoint is a rank-crossing selection (min struct per
    decile, map-combinable) — the q_agg_percentile_global device over
    tokens instead of ranks. The 10-point OLS runs on a bounded frame
    with 9dp-ln decimal sums. Nothing anywhere is sized by |vocab|²
    or |tokens| past the first reduce.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    tok = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word") != "")
    )
    # r13 (guide §1.2 fewer passes): per-doc token counts are ROW-LOCAL
    # — size(filter(ws)) on the un-exploded array — so the old second
    # explode + tokens→doc_id shuffle is gone; documents is one row per
    # doc, no aggregation needed at all. A doc whose every word is
    # empty now appears with nt=0 instead of being absent: its spine
    # row repeats the previous cumulative values and can never be the
    # min-struct pick of a crossing (ties resolve to the EARLIEST
    # doc_id at the same cum_nt), so the published rows are identical.
    # The token total likewise folds map-side off the same row-local
    # count — the old form re-evaluated the nt⋈nv join for it.
    nwords = F.size(F.filter("ws", lambda w: w != ""))
    nt = d.select("doc_id", nwords.cast("long").alias("nt"))
    nv = (
        tok.groupBy("word")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    per = nt.join(nv, "doc_id", "left").select(
        "doc_id", "nt", F.coalesce("nv", F.lit(0)).cast("long").alias("nv")
    )
    cum = dist_cumsum(per, "doc_id", ["nt", "nv"])
    tot = F.broadcast(nt.agg(F.sum("nt").cast("long").alias("t")))
    dec = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    crossed = (
        cum.crossJoin(tot)
        .crossJoin(F.broadcast(dec))
        .filter(F.col("cum_nt") * 10 >= F.col("decile") * F.col("t"))
    )
    pick = (
        crossed.groupBy("decile")
        .agg(F.min(F.struct("cum_nt", "doc_id", "cum_nv")).alias("s"))
        .select(
            "decile",
            F.col("s.cum_nt").alias("mct"),
            F.col("s.cum_nv").alias("mcv"),
        )
        .localCheckpoint(eager=False)  # bounded (10 rows); feeds fit + out
    )
    x = F.round(F.log("mct"), 9).cast("decimal(12,9)")
    y = F.round(F.log("mcv"), 9).cast("decimal(12,9)")
    s = pick.filter((F.col("mct") > 0) & (F.col("mcv") > 0)).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    beta = s.select(
        F.when(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            )
            + 0.0,  # -0.0 → +0.0 in BOTH engines (repr/hash parity)
        ).alias("beta")
    )
    return (
        pick.crossJoin(F.broadcast(beta))
        .select(
            "decile",
            F.col("mct").alias("cum_tokens"),
            F.col("mcv").alias("cum_vocab"),
            "beta",
        )
        .orderBy("decile")
    )


_MIX_SEG_W = 8  # words per language-ID segment


@query(
    "q_text_lang_mix",
    # Same marker rule as q_text_lang applied per 8-word segment; the
    # per-doc majority pick is a row_number with a total (count DESC,
    # class ASC) order in BOTH engines; the mean share goes through
    # 9dp-rounded per-doc ratios summed in exact decimal.
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w
),
seg AS (
  SELECT doc_id, CAST(floor((i - 1) / {_MIX_SEG_W}) AS BIGINT) AS seg,
         ws[i] AS word
  FROM pos
),
sc AS (
  SELECT doc_id, seg,
    sum(CASE WHEN list_contains({_sql_list(_LANG_MARKERS['en'])}, word)
             THEN 1 ELSE 0 END) AS s_en,
    sum(CASE WHEN list_contains({_sql_list(_LANG_MARKERS['code'])}, word)
             THEN 1 ELSE 0 END) AS s_code,
    sum(CASE WHEN list_contains({_sql_list(_LANG_MARKERS['data'])}, word)
             THEN 1 ELSE 0 END) AS s_data
  FROM seg GROUP BY doc_id, seg
),
pred AS (
  SELECT doc_id,
    CASE WHEN s_en >= s_code AND s_en >= s_data THEN 'en'
         WHEN s_code >= s_data THEN 'code'
         ELSE 'data' END AS p
  FROM sc
),
cnts AS (SELECT doc_id, p, CAST(count(*) AS BIGINT) AS c
         FROM pred GROUP BY doc_id, p),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segs
        FROM cnts GROUP BY doc_id),
rk AS (
  SELECT doc_id, p, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, p) AS r
  FROM cnts
),
mj AS (
  SELECT r.doc_id, r.p, r.c, t.n_segs
  FROM rk r JOIN tot t USING (doc_id) WHERE r.r = 1
)
SELECT p AS majority_class,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c < n_segs THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mixed,
       round(CAST(sum(CAST(round(c * 1.0 / n_segs, 9) AS DECIMAL(12,9)))
                  AS DOUBLE) / count(*), 6) AS mean_majority_share
FROM mj GROUP BY p ORDER BY majority_class
""",
)
def q_text_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document language/domain consistency: the q_text_lang
    marker rule applied per 8-word SEGMENT, then each doc summarized
    by its majority class and the share of segments agreeing with it —
    the code-switching / boilerplate-stitching detector. A doc whose
    segments disagree (majority share well under 1) is usually a
    concatenation artifact (nav chrome + body, or two languages in one
    crawl record); corpus-level counts of mixed docs per majority
    class decide whether to SPLIT before training rather than filter.

    Scale shape: segments explode map-locally (positions are
    row-local); the per-(doc, segment) marker scores are one
    map-combinable groupBy; the per-doc majority is a row_number over
    the ≤3-rows-per-doc class-count frame PARTITIONED by doc_id
    (millions of genuine keys, never a global sort); the rollup is
    |classes|-bounded. Everything integer until the one 9dp share
    ratio per doc.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    seg = d.select(
        "doc_id", F.posexplode("ws").alias("i", "word")
    ).select(
        "doc_id",
        F.floor(F.col("i") / _MIX_SEG_W).cast("long").alias("seg"),
        "word",
    )

    def hits(markers):
        arr = F.array(*[F.lit(x) for x in markers])
        return F.sum(
            F.when(F.array_contains(arr, F.col("word")), 1).otherwise(0)
        )

    sc = seg.groupBy("doc_id", "seg").agg(
        hits(_LANG_MARKERS["en"]).alias("s_en"),
        hits(_LANG_MARKERS["code"]).alias("s_code"),
        hits(_LANG_MARKERS["data"]).alias("s_data"),
    )
    pred = sc.select(
        "doc_id",
        F.when(
            (F.col("s_en") >= F.col("s_code"))
            & (F.col("s_en") >= F.col("s_data")),
            F.lit("en"),
        )
        .when(F.col("s_code") >= F.col("s_data"), F.lit("code"))
        .otherwise(F.lit("data"))
        .alias("p"),
    )
    cnts = pred.groupBy("doc_id", "p").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)  # ≤3 rows/doc; feeds totals + rank
    tot = cnts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_segs")
    )
    wr = W.partitionBy("doc_id").orderBy(F.col("c").desc(), "p")
    mj = (
        cnts.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .join(tot, "doc_id")
    )
    share = F.round(F.col("c") * 1.0 / F.col("n_segs"), 9).cast(
        "decimal(12,9)"
    )
    return (
        mj.groupBy(F.col("p").alias("majority_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("c") < F.col("n_segs"), 1).otherwise(0))
            .cast("long")
            .alias("n_mixed"),
            F.round(
                F.sum(share).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_majority_share"),
        )
        .orderBy("majority_class")
    )


# Curriculum stage bands on per-doc token counts (fixture tokens run
# 10-99; at scale these come from the tokenizer-count column the ingest
# already materializes). Short-and-clean first, long-tail last.
_CURR_BANDS = (25, 50, 75)  # stage 1: <25, 2: <50, 3: <75, 4: rest


@query(
    "q_mix_curriculum",
    # Stage assignment is integer threshold compares on exact token
    # counts; shares are one division each over bounded frames.
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), w -> w != ''))
           AS n_tok
  FROM documents
),
st AS (
  SELECT doc_id, lang, n_tok,
    CASE WHEN n_tok < {_CURR_BANDS[0]} THEN 1
         WHEN n_tok < {_CURR_BANDS[1]} THEN 2
         WHEN n_tok < {_CURR_BANDS[2]} THEN 3
         ELSE 4 END AS stage
  FROM t
),
per AS (
  SELECT stage, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM st GROUP BY stage, lang
),
stot AS (
  SELECT stage, CAST(sum(n_tokens) AS BIGINT) AS stage_tokens
  FROM per GROUP BY stage
),
gtot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
SELECT CAST(p.stage AS INT) AS stage, p.lang, p.n_docs, p.n_tokens,
       round(p.n_tokens * 1.0 / s.stage_tokens, 6) AS share_of_stage,
       round(s.stage_tokens * 1.0 / g.total_tokens, 6)
         AS stage_share_of_corpus
FROM per p JOIN stot s USING (stage), gtot g
ORDER BY stage, lang
""",
)
def q_mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule report: docs banded into 4 training stages
    by token count (short/simple first, long-tail last — the standard
    length-curriculum heuristic), crossed with language so the
    scheduler can see whether early stages accidentally starve a
    language (a short-doc-first curriculum over a corpus whose Chinese
    docs run long would front-load English — this is the table that
    catches it). Per (stage, lang): doc and token counts, the lang's
    share WITHIN its stage, and the stage's share of the corpus —
    the numbers a data-loader turns into per-stage sampling weights.

    Scale shape: token counts are row-local; one map-combinable
    groupBy to |stages|×|langs| cells; both share denominators are
    bounded-frame aggregates joined back small-side. Exact integers
    until the two published divisions.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split("text", " "), lambda w: w != "")
    ).cast("long")
    st = d.select(
        "lang",
        n_tok.alias("n_tok"),
        F.when(n_tok < _CURR_BANDS[0], 1)
        .when(n_tok < _CURR_BANDS[1], 2)
        .when(n_tok < _CURR_BANDS[2], 3)
        .otherwise(4)
        .cast("int")
        .alias("stage"),
    )
    per = st.groupBy("stage", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)  # bounded cells; feeds both totals
    stot = per.groupBy("stage").agg(
        F.sum("n_tokens").cast("long").alias("stage_tokens")
    )
    gtot = F.broadcast(
        per.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    )
    return (
        per.join(F.broadcast(stot), "stage")
        .crossJoin(gtot)
        .select(
            "stage",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens") * 1.0 / F.col("stage_tokens"), 6
            ).alias("share_of_stage"),
            F.round(
                F.col("stage_tokens") * 1.0 / F.col("total_tokens"), 6
            ).alias("stage_share_of_corpus"),
        )
        .orderBy("stage", "lang")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer sizing)
# ---------------------------------------------------------------------------

_VC_SIZES = (100, 1000, 10000)


@query(
    "q_text_vocab_coverage",
    # Pure integer construction: word counts, a descending cumulative
    # count over (count DESC, word), and rank selections at
    # least(N, |vocab|) — the only float is the final share division.
    oracle=f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM w WHERE word != '' GROUP BY word
),
c AS (
  SELECT word, cnt,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, word) AS BIGINT) AS cum,
         CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rk
  FROM f
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
  FROM f
),
thr AS (
  SELECT n_top, t, v, least(n_top, v) AS target
  FROM tot, unnest([{", ".join(f"CAST({n} AS BIGINT)" for n in _VC_SIZES)}])
       AS u(n_top)
)
SELECT thr.n_top, thr.v AS vocab_size, thr.t AS total_occ,
       c.cum AS covered_occ,
       round(CAST(c.cum AS DOUBLE) / thr.t, 6) AS coverage,
       round(1.0 - CAST(c.cum AS DOUBLE) / thr.t, 6) AS oov_share
FROM c JOIN thr ON c.rk = thr.target
ORDER BY thr.n_top
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of all token occurrences
    covered by the top-100 / top-1k / top-10k words by frequency — the
    tokenizer-sizing readout (how big a word-level vocab must be before
    OOV mass is tolerable) and, read against q_text_zipf, the check
    that the corpus' head is behaving. A 10k vocab covering only 70%
    says subword tokenization is mandatory, not optional.

    Scale shape: one map-combinable word count (Zipf-hot keys cost one
    combiner row each); the descending cumulative count rides
    ``dist_cumsum`` (equi-depth buckets, never a single-partition
    global-sort window); checkpoints are 3 rank-equality selections
    against a broadcast thresholds frame. Integers end to end, one
    division per output row.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    f = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    c = dist_cumsum(
        f.withColumn("one", F.lit(1).cast("long")),
        "cnt",
        ["cnt", "one"],
        descending=True,
        tiebreak=["word"],
    ).select(
        F.col("cum_cnt").cast("long").alias("cum"),
        F.col("cum_one").cast("long").alias("rk"),
    )
    tot = f.agg(
        F.sum("cnt").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    thr = F.broadcast(
        tot.select(
            F.explode(
                F.array(*[F.lit(n).cast("long") for n in _VC_SIZES])
            ).alias("n_top"),
            "t",
            "v",
        ).withColumn("target", F.least(F.col("n_top"), F.col("v")))
    )
    return (
        c.join(thr, F.col("rk") == F.col("target"))
        .select(
            "n_top",
            F.col("v").alias("vocab_size"),
            F.col("t").alias("total_occ"),
            F.col("cum").alias("covered_occ"),
            F.round(F.col("cum").cast("double") / F.col("t"), 6).alias(
                "coverage"
            ),
            F.round(
                1.0 - F.col("cum").cast("double") / F.col("t"), 6
            ).alias("oov_share"),
        )
        .orderBy("n_top")
    )


# ---------------------------------------------------------------------------
# Encoding-artifact audit (mojibake / control-char / replacement-char)
# ---------------------------------------------------------------------------


@query(
    "q_text_encoding_audit",
    # All three artifact counts are exact integer length-differences
    # (replace-and-measure for single chars, the same regexp_replace
    # character class in RE2 and Java for the control range); rates
    # are one IEEE division per bounded source row.
    oracle="""
WITH per AS (
  SELECT source,
         length(text) AS nc,
         length(text) - length(replace(text, chr(65533), ''))
           AS n_repl,
         length(text)
           - length(regexp_replace(text,
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS n_ctrl,
         length(text) - length(replace(text, chr(160), '')) AS n_nbsp
  FROM documents
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nc) AS BIGINT) AS n_chars,
         CAST(sum(n_repl) AS BIGINT) AS n_repl,
         CAST(sum(n_ctrl) AS BIGINT) AS n_ctrl,
         CAST(sum(n_nbsp) AS BIGINT) AS n_nbsp
  FROM per GROUP BY 1
)
SELECT source, n_docs, n_chars,
       round(CAST(n_repl AS DOUBLE) * 1000000 / nullif(n_chars, 0), 6)
         AS repl_per_mchar,
       round(CAST(n_ctrl AS DOUBLE) * 1000000 / nullif(n_chars, 0), 6)
         AS ctrl_per_mchar,
       round(CAST(n_nbsp AS DOUBLE) * 1000000 / nullif(n_chars, 0), 6)
         AS nbsp_per_mchar,
       n_repl + n_ctrl = 0 AS clean
FROM s ORDER BY source
""",
)
def q_text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact audit per source: U+FFFD replacement
    characters (a decoder already gave up — the text lost bytes),
    C0 control characters outside whitespace (binary junk or
    double-decoded escapes), and non-breaking spaces (the HTML-paste
    signature that breaks whitespace tokenizers), each per million
    characters. The pre-tokenizer gate every corpus intake runs: a
    source with repl_per_mchar in the hundreds was scraped with the
    wrong charset and poisons vocabulary statistics (q_text_heaps,
    q_text_vocab_coverage) silently. One bad source vs all sources
    elevated distinguishes a scraper bug from a pipeline-wide
    charset mistake.

    Scale shape: entirely row-local replace/regexp length arithmetic
    in whole-stage codegen — no UDF, no shuffle until the final
    map-combinable reduce onto the bounded source grid.
    """
    d = load_table(spark, sf_dir, "documents")
    nc = F.length("text")
    per = d.select(
        "source",
        nc.alias("nc"),
        # NOT F.chr(65533): Spark's chr() is mod-256 (ASCII-extended),
        # so chr(65533) silently yields U+00FD — the escape literal is
        # the real U+FFFD codepoint
        (
            nc
            - F.length(
                F.replace(F.col("text"), F.lit("\ufffd"), F.lit(""))
            )
        ).alias("n_repl"),
        (
            nc
            - F.length(
                F.regexp_replace(
                    F.col("text"), r"[\x00-\x08\x0b\x0c\x0e-\x1f]", ""
                )
            )
        ).alias("n_ctrl"),
        (
            nc
            - F.length(
                F.replace(F.col("text"), F.lit("\u00a0"), F.lit(""))
            )
        ).alias("n_nbsp"),
    )
    s = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("n_repl").cast("long").alias("n_repl"),
        F.sum("n_ctrl").cast("long").alias("n_ctrl"),
        F.sum("n_nbsp").cast("long").alias("n_nbsp"),
    )
    nz = F.nullif(F.col("n_chars"), F.lit(0))
    return s.select(
        "source",
        "n_docs",
        "n_chars",
        F.round(F.col("n_repl").cast("double") * 1_000_000 / nz, 6).alias(
            "repl_per_mchar"
        ),
        F.round(F.col("n_ctrl").cast("double") * 1_000_000 / nz, 6).alias(
            "ctrl_per_mchar"
        ),
        F.round(F.col("n_nbsp").cast("double") * 1_000_000 / nz, 6).alias(
            "nbsp_per_mchar"
        ),
        ((F.col("n_repl") + F.col("n_ctrl")) == 0).alias("clean"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Hapax legomena / Good-Turing unseen-mass profile per source
# ---------------------------------------------------------------------------


@query(
    "q_text_hapax",
    # Frequency-of-frequency counts are exact integers off the same
    # whitespace token grid as q_text_vocab; the two ratios divide
    # identical integers on the bounded source grid.
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS n
  FROM w WHERE word != '' GROUP BY source, word
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dis_legomena,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1e0 / count(*), 6)
         AS hapax_rate,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1e0 / sum(n), 6)
         AS gt_unseen_mass
FROM f GROUP BY source ORDER BY source
""",
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax/dis legomena census per source with the Good-Turing
    unseen-mass estimate — the smoothing-side readout the vocabulary
    ops (q_text_vocab size, q_text_heaps growth, q_text_zipf slope)
    don't give: N₁/N is Good-Turing's probability mass of NEVER-SEEN
    words, i.e. how open this source's vocabulary still is, and
    hapax/vocab is the singleton fraction that decides whether a
    tokenizer's min-frequency cutoff amputates the tail. Sources with
    gt_unseen_mass ≫ corpus norm are under-sampled (or noisy — cross
    q_text_encoding_audit); sources near 0 are closed/templated text.

    Scale shape: explode to (source, word) → ONE grouped count (Zipf
    heat absorbed by map-side combine exactly as q_text_vocab) → a
    second map-combinable conditional reduce onto the bounded source
    grid. No distinct-of-tokens shuffle, no driver state.
    """
    d = load_table(spark, sf_dir, "documents")
    f = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hap = F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long")
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("n").cast("long").alias("n_tokens"),
            hap.alias("hapax"),
            F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
            .cast("long")
            .alias("dis_legomena"),
            F.round(hap * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "hapax_rate"
            ),
            F.round(hap * F.lit(1.0) / F.sum("n"), 6).alias(
                "gt_unseen_mass"
            ),
        )
        .orderBy("source")
    )

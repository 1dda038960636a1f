"""Training-batch assembly operators (north-star LLM-pipeline family,
BASELINE.json:6): sequence packing and corpus-mixture reporting.

These are the last-mile ops of a pretraining data pipeline — after
scoring (llm/text.py) and dedup (llm/dedup.py), the surviving corpus is
packed into fixed-token context windows and its lang/source mixture is
reported for data-mixing decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators._util import bounded_part
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

_CTX_TOKENS = 512  # context-window token budget per pack


@query(
    "q_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
o AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
  FROM t
)
SELECT source,
       CAST(floor(start_off / {_CTX_TOKENS}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM o
GROUP BY source, pack_id
""",
    scan_repair=False,  # slower with the repair (r13 A/B, AB_REPAIR_r13.json)
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into fixed token budgets
    (north-star training-batch assembly).

    The standard pretraining packing scheme: per source stream, documents
    are concatenated in deterministic order (doc_id) and chunked into
    512-token context windows; a document belongs to the window its
    start offset falls in. One window cumsum (running token offset), one
    integer division — no iterative bin-packing, which is inherently
    sequential and does not distribute.

    Scale shape: the window partitions by ``source``, so packing
    parallelizes across streams; within a stream the cumsum is a sort —
    at 100 TB the stream key becomes (source, shard) where shard is the
    ingest file, keeping every sort partition bounded while preserving
    within-shard document order (packing semantics are per-shard by
    construction in a sharded corpus).
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = d.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
    ).withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("start_off") / _CTX_TOKENS).alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q_mix_report",
    oracle="""
WITH per AS (
  SELECT lang, source,
         count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM documents
  GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens, n_chars,
       round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share
FROM per
""",
)
def q_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture report: docs/tokens/chars and token share per
    (lang, source) cell (north-star data-mixing input).

    The numbers that drive pretraining mixture weights (what fraction of
    the token budget each source contributes). Exact integer sums — the
    only float is the final share division over the already-aggregated
    cells. The global-total window runs over the *aggregated* frame
    (|lang|×|source| rows), so the single-partition exchange it implies
    is over a handful of rows at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    # (lang, source)-bounded frame: fold-proof constant partition
    total = F.sum("n_tokens").over(
        W.partitionBy(bounded_part(F.col("n_tokens")))
    )
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") * F.lit(1.0) / total, 6).alias("token_share"),
    )


@query(
    "q_curation_pipeline",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text, source,
         len(string_split(text, ' ')) AS nw,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(['the', 'a', 'of', 'and', 'in'], x))) AS n_stop
  FROM documents
),
qual AS (
  SELECT * FROM q
  WHERE nw BETWEEN 20 AND 1000 AND n_stop * 1.0 / nw BETWEEN 0.001 AND 0.6
),
keep AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
s AS (SELECT qual.* FROM qual JOIN keep USING (doc_id)),
o AS (
  SELECT source, doc_id, nw,
         sum(nw) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - nw AS start_off
  FROM s
)
SELECT source,
       CAST(floor(start_off / {_CTX_TOKENS}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM o
GROUP BY source, pack_id
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate → exact dedup → pack —
    the three pipeline stages COMPOSED into one lazy plan (north-star
    flagship: the full pretraining data path, not isolated operators).

    Catalyst fuses the whole thing: the quality predicate evaluates in
    the scan stage, the dedup is one hash aggregate + semi join, and
    packing reuses the per-source cumsum. Stage order matters at scale
    — filtering before dedup shrinks the hash-shuffle, dedup before
    packing keeps duplicate tokens out of the context-window budget.
    Same gate as q_text_quality, same dedup rule as q_dedup_exact
    (keep min doc_id per content hash), same packing as
    q_pack_sequences — and the oracle replays all three stages in SQL.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "in")])
    nw = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
        * F.lit(1.0)
        / nw
    )
    qual = d.filter(
        nw.between(20, 1000) & stop_ratio.between(0.001, 0.6)
    ).select("doc_id", "text", "source", nw.alias("nw"))
    keep = (
        qual.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = qual.join(keep, "doc_id", "left_semi")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = survivors.withColumn(
        "start_off", F.sum("nw").over(w) - F.col("nw")
    )
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("start_off") / _CTX_TOKENS).alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_MIX_TEMP = 2.0        # temperature for exponential smoothing (p^(1/T))
_MIX_BUDGET = 1_000_000  # planned token budget the factors apply to


@query(
    "q_mix_rebalance",
    # The smoothed weights p_i^(1/2)/Σp_j^(1/2) need a cross-language
    # SUM of irrational doubles — order-dependent in float, so each
    # sqrt term goes through the unigram-PPL contract (9dp round →
    # DECIMAL cast → order-free sum) before the one final division.
    oracle=f"""
WITH per AS (
  SELECT lang,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
s AS (
  SELECT lang, n_tokens,
         n_tokens * 1.0 / t.total AS share,
         CAST(round(sqrt(n_tokens * 1.0 / t.total), 9) AS DECIMAL(28,12))
           AS sq
  FROM per CROSS JOIN t
),
z AS (SELECT CAST(sum(sq) AS DOUBLE) AS zsum FROM s)
SELECT lang, n_tokens,
       round(share, 6) AS share,
       round(CAST(sq AS DOUBLE) / z.zsum, 6) AS target_share,
       round(CAST(sq AS DOUBLE) / z.zsum / share, 6) AS boost,
       CAST(floor({_MIX_BUDGET} * (CAST(sq AS DOUBLE) / z.zsum)) AS BIGINT)
         AS planned_tokens
FROM s CROSS JOIN z
ORDER BY lang
""",
)
def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing plan via temperature sampling (T = 2, the
    multilingual-pretraining standard: sample language i with weight
    ∝ pᵢ^(1/T)) — q_mix_report says what the corpus IS; this says what
    to SAMPLE so low-resource languages aren't drowned (smoothed
    up-weighting) without letting them dominate (as uniform would).
    Emits per language: current share, smoothed target share, the
    sampling boost factor, and planned tokens under a fixed budget.

    Shape: one map-combinable pass to per-language token counts;
    everything after is arithmetic over |langs| rows. Determinism: the
    cross-language normalizer Σ√pⱼ is a float sum, so each sqrt term
    is pinned by the 9dp-round → DECIMAL discipline before summing
    (order-free), then ONE IEEE division per row.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    t = per.agg(F.sum("n_tokens").alias("total"))
    s = per.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") * 1.0 / F.col("total")).alias("share"),
        F.round(F.sqrt(F.col("n_tokens") * 1.0 / F.col("total")), 9)
        .cast("decimal(28,12)")
        .alias("sq"),
    )
    z = s.agg(F.sum("sq").cast("double").alias("zsum"))
    tgt = F.col("sq").cast("double") / F.col("zsum")
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_tokens",
            F.round("share", 6).alias("share"),
            F.round(tgt, 6).alias("target_share"),
            F.round(tgt / F.col("share"), 6).alias("boost"),
            F.floor(F.lit(_MIX_BUDGET) * tgt).cast("long").alias(
                "planned_tokens"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_pack_split",
    # All-integer: token offsets are a window cumsum, each document
    # explodes over exactly the packs its [start, end) span covers
    # (sequence of pack ids), and slice lengths are pure arithmetic on
    # the overlap — the oracle replays every step.
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
o AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
  FROM t
),
x AS (
  SELECT source, doc_id, n_tok, start_off,
         unnest(generate_series(
             CAST(start_off // {_CTX_TOKENS} AS BIGINT),
             CAST((start_off + n_tok - 1) // {_CTX_TOKENS} AS BIGINT)))
           AS pack_id
  FROM o WHERE n_tok > 0
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id, doc_id,
       CAST(greatest(start_off, pack_id * {_CTX_TOKENS}) - start_off
            AS BIGINT) AS slice_start,
       CAST(least(start_off + n_tok, (pack_id + 1) * {_CTX_TOKENS})
            - greatest(start_off, pack_id * {_CTX_TOKENS}) AS BIGINT)
         AS slice_len,
       start_off + n_tok > (pack_id + 1) * {_CTX_TOKENS} AS continues
FROM x
""",
)
def q_pack_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-SPLITTING sequence packing: the GPT-style scheme where
    the token stream is chunked into exact {ctx}-token windows and a
    document crossing a boundary is SLICED across packs — every pack
    is exactly full (except the stream tail), unlike q_pack_sequences'
    membership-by-start-offset form where packs over/under-fill. The
    output is the pack manifest a loader needs: (pack, doc, slice
    start within doc, slice length, continues-into-next-pack flag).

    Shape: one per-source window cumsum assigns exact token offsets
    (the q_pack_sequences pass); each document then explodes over
    exactly ceil(span/{ctx}) pack ids via `sequence` — 1→N row
    generation proportional to OUTPUT slices, never a per-token
    explode (the naive formulation materializes the token stream:
    100 TB of rows). Slice arithmetic is pure integer overlap math.
    Empty documents carry no slice; the `continues` flag is what lets
    the loader verify no token was lost at every boundary.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    o = (
        d.select("source", "doc_id", n_tok.alias("n_tok"))
        .withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    ctx = F.lit(_CTX_TOKENS)
    first_pack = F.floor(F.col("start_off") / ctx)
    last_pack = F.floor((F.col("start_off") + F.col("n_tok") - 1) / ctx)
    x = o.select(
        "source",
        "doc_id",
        "n_tok",
        "start_off",
        F.explode(F.sequence(first_pack, last_pack)).alias("pack_id"),
    )
    pack_lo = F.col("pack_id") * _CTX_TOKENS
    pack_hi = (F.col("pack_id") + 1) * _CTX_TOKENS
    sl_start = F.greatest(F.col("start_off"), pack_lo) - F.col("start_off")
    sl_len = F.least(F.col("start_off") + F.col("n_tok"), pack_hi) - F.greatest(
        F.col("start_off"), pack_lo
    )
    return x.select(
        "source",
        F.col("pack_id").cast("long").alias("pack_id"),
        "doc_id",
        sl_start.cast("long").alias("slice_start"),
        sl_len.cast("long").alias("slice_len"),
        (F.col("start_off") + F.col("n_tok") > pack_hi).alias("continues"),
    )


q_pack_split.__doc__ = q_pack_split.__doc__.format(ctx=_CTX_TOKENS)


_SHARD_BYTES = 65536


@query(
    "q_pack_shards",
    # Exact global byte offsets (integer window sum in the oracle, the
    # dist_cumsum device in Spark — identical values), start-offset
    # shard rule, all-integer shard stats; utilization is one double
    # division per shard row.
    oracle=f"""
WITH o AS (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM documents
),
s AS (
  SELECT (cum - n_chars) // {_SHARD_BYTES} AS shard_id, doc_id, n_chars
  FROM o
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(CAST(sum(n_chars) AS DOUBLE) / {_SHARD_BYTES}, 6)
         AS utilization
FROM s GROUP BY shard_id ORDER BY shard_id
""",
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export shard manifest (webdataset-style): documents stream in
    deterministic doc_id order into ~64 KiB shards by the
    START-OFFSET rule (a doc belongs to the shard its first byte
    lands in — no doc is split, shards over-fill by at most one doc),
    emitting the manifest a shard writer needs: doc range, byte
    total, utilization per shard. The EXPORT-layer sibling of the
    training-side packers: q_pack_sequences fills fixed TOKEN
    contexts per source, this fills fixed BYTE archives globally —
    the layout object stores and dataloaders actually shard on.

    Scale shape: the global byte offsets run through ``dist_cumsum``
    (equi-depth doc_id buckets + broadcast offsets — the exact prefix
    sum with NO single-partition window; the oracle's window states
    the same math declaratively), then one integer division assigns
    shards and one grouped aggregate emits the manifest. At 100 TB
    the manifest is |corpus bytes|/64 KiB rows — write it partitioned
    by shard range; the assignment pass itself is one value-keyed
    shuffle.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = dist_cumsum(d, "doc_id", ["n_chars"])
    s = c.select(
        F.expr(f"(cum_n_chars - n_chars) DIV {_SHARD_BYTES}").alias(
            "shard_id"
        ),
        "doc_id",
        "n_chars",
    )
    return (
        s.groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.round(
                F.sum("n_chars").cast("double") / _SHARD_BYTES, 6
            ).alias("utilization"),
        )
        .orderBy("shard_id")
    )


# Epoch-capped rebalance config: upweighting a small domain means
# REPEATING it; past a few epochs repetition stops helping and starts
# hurting (memorization, loss spikes) — the published pretraining rule
# of thumb is a hard epoch cap.
_EPOCH_CAP = 3.0


@query(
    "q_mix_epochs",
    # Token counts are exact BIGINTs; the per-source epoch factor is
    # one IEEE chain over (exact total / exact source count); no
    # cross-row float sum anywhere (the uniform target divides the
    # corpus total by the source count, both exact).
    oracle=f"""
WITH per AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per
)
SELECT source, n_tokens,
       CAST(floor(CAST(total AS DOUBLE) / n_sources) AS BIGINT)
         AS target_tokens,
       round((CAST(total AS DOUBLE) / n_sources) / n_tokens, 6)
         AS epochs_raw,
       round(least({_EPOCH_CAP},
                   (CAST(total AS DOUBLE) / n_sources) / n_tokens), 6)
         AS epochs_capped,
       CAST(floor(n_tokens
                  * least({_EPOCH_CAP},
                          (CAST(total AS DOUBLE) / n_sources) / n_tokens))
            AS BIGINT) AS planned_tokens,
       ((CAST(total AS DOUBLE) / n_sources) / n_tokens > {_EPOCH_CAP})
         AS capped
FROM per CROSS JOIN t
ORDER BY source
""",
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped mixture rebalance: uniform per-source token target
    with a hard repetition cap — the production guard q_mix_rebalance's
    temperature weights don't have. Upweighting a domain means
    REPEATING its tokens; the published pretraining rule (C4/Pile/LLaMA
    lineage) is that past ~3-4 epochs repetition degrades the model, so
    the plan is epochs = min(cap, target/actual), and the `capped` flag
    is the procurement signal: that source is underweight and needs
    MORE DATA, not more epochs — no sampling weight can fix it.

    Scale shape: one map-combinable pass to per-source token counts,
    one 2-scalar broadcast (corpus total, source count), |sources| rows
    of closed-form arithmetic. Exact-integer inputs, one IEEE chain per
    row, no order-dependent float sum.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    t = per.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    target = F.col("total").cast("double") / F.col("n_sources")
    raw = target / F.col("n_tokens")
    capped = F.least(F.lit(_EPOCH_CAP), raw)
    return (
        per.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_tokens",
            F.floor(target).cast("long").alias("target_tokens"),
            F.round(raw, 6).alias("epochs_raw"),
            F.round(capped, 6).alias("epochs_capped"),
            F.floor(F.col("n_tokens") * capped).cast("long").alias(
                "planned_tokens"
            ),
            (raw > _EPOCH_CAP).alias("capped"),
        )
        .orderBy("source")
    )

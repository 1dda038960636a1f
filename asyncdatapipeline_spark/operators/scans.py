"""Source scans (SURVEY.md §2B B1-B3).

Parquet is the primary format (vectorized reader, predicate pushdown,
column pruning). CSV/JSON scans use *explicit schemas* — schema inference
is a full extra pass over the data, unacceptable at 100 TB and
nondeterministic besides (FIXTURES.md pins schemas).

The CSV/JSON queries round-trip a small dimension table through the text
format in a scratch dir and must reproduce the original table exactly —
which is precisely what their oracle asserts (DuckDB reads the original
parquet view).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table


def _scratch(sf_dir: str, tag: str) -> str:
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "adps_scan", key, tag)


@query(
    "q_scan_parquet",
    oracle="""
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_quantity >= 45
""",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet batch scan with pruning + pushdown (B1).

    5 of 11 columns read (``ReadSchema``), quantity filter pushed to the
    row-group level (``PushedFilters``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)


@query("q_scan_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit schema (B2): parquet → csv → read back;
    must equal the source table (the oracle reads the parquet view)."""
    path = _scratch(sf_dir, "nation_csv")
    n = load_table(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    return spark.read.schema(NATION_SCHEMA).option("header", "true").csv(path)


REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)


@query("q_scan_json", oracle="SELECT r_regionkey, r_name FROM region")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with an explicit schema (B3)."""
    path = _scratch(sf_dir, "region_json")
    r = load_table(spark, sf_dir, "region")
    r.coalesce(1).write.mode("overwrite").json(path)
    return spark.read.schema(REGION_SCHEMA).json(path).select("r_regionkey", "r_name")


@query(
    "q_scan_orc",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier
WHERE s_acctbal > 0
""",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (source-format coverage beyond B1-B3): parquet → ORC →
    read back with a pushed predicate; must equal the source table
    filtered the same way (the oracle reads the parquet view).

    ORC gets the same vectorized reader + predicate pushdown treatment
    as parquet in Spark; the balance filter lands in ``PushedFilters``
    at the stripe level.
    """
    path = _scratch(sf_dir, "supplier_orc")
    s = load_table(spark, sf_dir, "supplier")
    s.coalesce(1).write.mode("overwrite").orc(path)
    return spark.read.orc(path).filter(F.col("s_acctbal") > 0)


_EVOLUTION_SPLIT = 250  # doc_id < split → v1 schema; >= split → v2 (lang dropped)


@query(
    "q_scan_evolution",
    # The oracle replays what the merged read MUST produce from the
    # base table: v2-era files lack the lang column, so those rows
    # surface with lang NULL.
    oracle=f"""
SELECT doc_id, text, lang FROM documents WHERE doc_id < {_EVOLUTION_SPLIT}
UNION ALL
SELECT doc_id, text, NULL FROM documents WHERE doc_id >= {_EVOLUTION_SPLIT}
ORDER BY doc_id
""",
)
def q_scan_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan (B1 family): read a dataset whose files
    were written under DIFFERENT schema versions — the normal state of
    any corpus ingested over months — with ``mergeSchema``, surfacing
    dropped/added columns as NULLs instead of failing or silently
    picking one footer's schema.

    The scratch layout writes two file generations from the fixture
    (v1: doc_id/text/lang; v2: lang removed) once per corpus. The scale
    note is the flag's COST: mergeSchema reads every file's footer up
    front (at 100 TB: a distributed footer-listing job), which is why
    production tables pin the merged schema in a catalog and the flag
    is an ingest-time tool, not a per-query default — exactly how this
    query uses it.
    """
    base = _scratch(sf_dir, "evolution")
    d = load_table(spark, sf_dir, "documents")
    va, vb = os.path.join(base, "v1"), os.path.join(base, "v2")
    if not (os.path.exists(os.path.join(va, "_SUCCESS"))
            and os.path.exists(os.path.join(vb, "_SUCCESS"))):
        d.filter(F.col("doc_id") < _EVOLUTION_SPLIT).select(
            "doc_id", "text", "lang"
        ).coalesce(1).write.mode("overwrite").parquet(va)
        d.filter(F.col("doc_id") >= _EVOLUTION_SPLIT).select(
            "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").parquet(vb)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(va, vb)
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


@query(
    "q_scan_binary",
    # The oracle recomputes each file's length and md5 from the SOURCE
    # text (UTF-8 octets — exactly the bytes the files were written
    # as), so a truncated/mangled/missing file breaks the compare.
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 100 AND text IS NOT NULL
ORDER BY doc_id
""",
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source scan (B3 sibling) — the ingest format for
    multimodal raw assets (images/audio/video arrive as FILES; this is
    how they become the opaque binary column llm/multimodal.py
    processes).

    A bounded demo corpus (100 docs as .txt files, written once to
    scratch) is read back distributed: one row per file with path,
    length, mtime, and lazily-loaded content. Scale notes: binaryFile
    caps per-file size (spark.sql.sources.binaryFile.maxLength) and
    reads content ONLY if the column is selected — a metadata-only
    listing (path/length) never opens the files; `pathGlobFilter`
    prunes at listing time. At 100 TB the listing itself is the
    bottleneck — real ingests mount a manifest or stream via
    Archive/tar batching rather than 10^9 tiny files; this operator's
    per-file md5 is the integrity gate that manifest carries forward.
    """
    out = _scratch(sf_dir, "binfiles")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        # Bounded (100-row) driver collect, ONCE per corpus, to write
        # the demo file tree — fixture construction, not a query path;
        # the scan under test is the distributed binaryFile read below.
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 100) & F.col("text").isNotNull())
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(out, f"doc_{r['doc_id']:06d}.txt"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        with open(marker, "w"):
            pass
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.txt")
        .load(out)
    )
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_scan_metadata",
    # File names are nondeterministic (part-UUIDs), so the oracle pins
    # what IS deterministic about the layout: the sink's
    # repartition(split) puts each split in exactly ONE file, and
    # _metadata.row_index within that file enumerates 0..n-1, so its
    # sum is C(n, 2) — both recomputable from the source table alone.
    oracle="""
SELECT
  CASE
    WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER < 230
      THEN 'train'
    WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER < 243
      THEN 'valid'
    ELSE 'test'
  END AS split,
  count(DISTINCT 1) AS n_files,
  count(*) AS n_rows,
  CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS row_index_sum
FROM documents
GROUP BY 1 ORDER BY split
""",
)
def q_scan_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via the ``_metadata`` hidden column (B1
    extension): which FILE did each row come from, at which position —
    the lineage every incident review ("which drop poisoned the
    corpus?") and every idempotent re-ingest needs. Reads the
    train/valid/test-partitioned sink layout (built by
    q_sink_partitioned) and aggregates per split: distinct source
    files, rows, and the sum of within-file row indexes.

    ``_metadata`` costs nothing unless selected (generated at scan
    time, no extra I/O); at 100 TB the per-file grouping is the
    compaction pre-flight (files-per-partition histogram) and
    ``row_index`` gives a stable intra-file ordinal for
    re-ingest-without-duplication bookkeeping. The oracle pins the
    deterministic layout facts: one file per split (repartition(split)
    → each split hash-lands in one task) and row_index summing to
    C(n, 2).
    """
    from asyncdatapipeline_spark.sources.sinks import (
        _scratch as _sink_scratch,
        q_sink_partitioned,
    )

    out = _sink_scratch(sf_dir, "by_split")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        q_sink_partitioned(spark, sf_dir)  # builds the layout, lazily
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    back = spark.read.schema(
        d.schema.add("split", T.StringType())
    ).parquet(out)
    return (
        back.groupBy("split")
        .agg(
            F.countDistinct(F.col("_metadata.file_name")).alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_metadata.row_index")).alias("row_index_sum"),
        )
        .orderBy("split")
    )


@query(
    "q_scan_json_corrupt",
    # The scratch file is region as JSON-lines plus exactly TWO planted
    # malformed lines, so the oracle knows precisely what a PERMISSIVE
    # read must report: every good row intact, corrupt lines surfaced
    # (not dropped, not fatal) with their raw text captured.
    oracle="""
SELECT r_regionkey, r_name, NULL AS bad_raw FROM region
UNION ALL
SELECT NULL, NULL, '{"r_regionkey": 900, "r_name": "TRUNCATED"'
UNION ALL
SELECT NULL, NULL, 'not json at all'
ORDER BY r_regionkey NULLS LAST, bad_raw
""",
)
def q_scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSON scan (B3 armor twin): PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` — the row-level quarantine for
    malformed ingest lines, completing q_fn_try's expression-level
    armor. A 100 TB crawl ALWAYS contains broken JSON; FAILFAST aborts
    the job at the first one and DROPMALFORMED silently loses data —
    PERMISSIVE keeps the good fields and surfaces each bad line's raw
    text for the quarantine sink (count it, sample it, re-ingest after
    the upstream fix).

    The scratch layout plants two malformed lines (a truncated object,
    a non-JSON line) among the region rows, once per corpus; the
    oracle reconstructs the exact expected report from the source
    table plus those two literals.
    """
    path = _scratch(sf_dir, "region_json_corrupt")
    marker = os.path.join(path, "_PLANTED")
    if not os.path.exists(marker):
        r = load_table(spark, sf_dir, "region")
        r.coalesce(1).write.mode("overwrite").json(path)
        with open(os.path.join(path, "zz_corrupt.json"), "w") as f:
            f.write('{"r_regionkey": 900, "r_name": "TRUNCATED"\n')
            f.write("not json at all\n")
        with open(marker, "w"):
            pass
    # Fresh StructType each call: ``StructType.add`` MUTATES in place, so
    # building the armored schema off the shared module-level REGION_SCHEMA
    # would permanently append bad_raw (and a second invocation in the same
    # process would append a duplicate and fail the schema'd read).
    schema = T.StructType(
        list(REGION_SCHEMA.fields) + [T.StructField("bad_raw", T.StringType(), True)]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "bad_raw")
        .json(path)
        .select("r_regionkey", "r_name", "bad_raw")
        .orderBy(F.col("r_regionkey").asc_nulls_last(), "bad_raw")
    )


@query(
    "q_scan_text",
    # Round-trip contract like B2/B3: nation rendered as raw
    # pipe-delimited lines, read back via the text source, parsed with
    # plain expressions — must reproduce the source table (the oracle
    # reads the parquet view and re-renders the line to check the
    # parse's inverse).
    oracle="""
SELECT n_nationkey, n_name, n_regionkey,
       CAST(len(n_nationkey || '|' || n_name || '|' || n_regionkey)
            AS INTEGER) AS line_len
FROM nation
ORDER BY n_nationkey
""",
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line scan (``spark.read.text``) + expression-side
    parsing — the lowest-level ingest path, completing the format
    family (parquet/CSV/JSON/ORC/binaryFile/text). This is how
    custom-delimited logs, one-record-per-line dumps, and anything the
    CSV parser's quoting rules would mangle actually enter a pipeline:
    one `value` string column per line, split/cast in codegen.

    The parse is ordinary JVM expressions (split + try-armor casts per
    q_fn_try's doctrine — a malformed line becomes NULL fields to
    quarantine, never a job abort), so predicate pushdown on the
    parsed columns doesn't exist (the format is opaque to the scan) —
    the documented cost of text vs parquet, and exactly why pipelines
    re-land text into parquet on first touch (q_sink_partitioned).
    Line splitting parallelizes by HDFS-style byte ranges, so a
    100 TB text drop still scans wide.
    """
    path = _scratch(sf_dir, "nation_text")
    marker = os.path.join(path, "_RENDERED")
    if not os.path.exists(marker):
        n = load_table(spark, sf_dir, "nation")
        (
            n.select(
                F.concat_ws(
                    "|",
                    F.col("n_nationkey").cast("string"),
                    "n_name",
                    F.col("n_regionkey").cast("string"),
                )
                .alias("value")
            )
            .coalesce(1)
            .write.mode("overwrite")
            .text(path)
        )
        with open(marker, "w"):
            pass
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\\|")
    return (
        lines.select(
            F.element_at(parts, 1).try_cast("int").alias("n_nationkey"),
            F.element_at(parts, 2).alias("n_name"),
            F.element_at(parts, 3).try_cast("int").alias("n_regionkey"),
            F.length("value").alias("line_len"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "q_scan_csv_corrupt",
    # Same contract as the JSON twin: every good row intact, each bad
    # line surfaced (not dropped, not fatal) with its raw text.
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, NULL AS bad_raw FROM nation
UNION ALL
SELECT 9999, 'TOOFEW', NULL, '9999,TOOFEW'
UNION ALL
SELECT NULL, 'a', NULL, 'not,a,number'
ORDER BY n_nationkey NULLS LAST, bad_raw
""",
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant CSV scan: PERMISSIVE + ``columnNameOfCorrupt
    Record`` — the CSV twin of q_scan_json_corrupt, because real CSV
    drops break differently than JSON (truncated rows from killed
    writers, type garbage in numeric columns) but need the same
    quarantine discipline: keep the good fields, surface each bad
    line's raw text, never abort and never silently drop.

    Two malformed lines are planted once per corpus (a row with too
    few columns, a row with a non-numeric key). CSV PERMISSIVE
    semantics differ from JSON's in a way the oracle pins exactly:
    Spark KEEPS every field of a corrupt row it could still parse
    (9999,TOOFEW yields nationkey=9999, name=TOOFEW, regionkey=NULL
    PLUS the raw line in bad_raw; an unparseable numeric yields NULL
    in that field only) — quarantine triage gets partial structure,
    not just raw text. The armor is for structural breakage, not
    schema evolution (that's q_scan_evolution).
    """
    path = _scratch(sf_dir, "nation_csv_corrupt")
    marker = os.path.join(path, "_PLANTED")
    if not os.path.exists(marker):
        n = load_table(spark, sf_dir, "nation")
        n.coalesce(1).write.mode("overwrite").csv(path)
        with open(os.path.join(path, "zz_corrupt.csv"), "w") as f:
            f.write("9999,TOOFEW\n")
            f.write("not,a,number\n")
        with open(marker, "w"):
            pass
    schema = T.StructType(
        list(NATION_SCHEMA.fields) + [T.StructField("bad_raw", T.StringType(), True)]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "bad_raw")
        .csv(path)
        .select("n_nationkey", "n_name", "n_regionkey", "bad_raw")
        .orderBy(F.col("n_nationkey").asc_nulls_last(), "bad_raw")
    )


@query(
    "q_scan_xml",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (Spark 4 native ``xml`` source — spark-xml graduated
    into core): parquet → XML → read back with an explicit schema and
    rowTag; must equal the source table (the oracle reads the parquet
    view). The last mainstream text format in the scan family beside
    CSV/JSON/text — B2B feeds and legacy enterprise exports still ship
    XML.

    Explicit schema, same doctrine as CSV/JSON: inference is an extra
    full pass and type-guessy besides. The reader streams row elements
    per ``rowTag`` and splits across executors per FILE (one XML
    document is one parse unit — at 100 TB you shard into many files,
    exactly what the writer side produces per partition)."""
    path = _scratch(sf_dir, "nation_xml")
    n = load_table(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").format("xml").option(
        "rowTag", "nation"
    ).save(path)
    return (
        spark.read.schema(NATION_SCHEMA)
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


def _nation_pull_fn(sf_dir: str):
    """Two-pull nation reader for the Python DataSource batch drain:
    pull 1 → first half, pull 2 → second half, pull 3 → None (EOF).
    Module-level factory so the closure cloudpickles into the runner."""
    state = {"i": 0}
    path = os.path.join(sf_dir, "nation.parquet")

    def pull():
        if state["i"] >= 2:
            return None
        import pyarrow.parquet as pq

        t = pq.read_table(
            path, columns=["n_nationkey", "n_name", "n_regionkey"]
        )
        rows = list(
            zip(
                t.column("n_nationkey").to_pylist(),
                t.column("n_name").to_pylist(),
                t.column("n_regionkey").to_pylist(),
            )
        )
        half = (len(rows) + 1) // 2
        out = rows[:half] if state["i"] == 0 else rows[half:]
        state["i"] += 1
        return out

    return pull


@query(
    "q_scan_pyds",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch scan through the Python DataSource API (Spark 4
    ``pyspark.sql.datasource``) — the engine's CollectFunc pull adapter
    (sources/pull_source.py, reference async_data_pipeline.go:65-67)
    driven in its FINITE-RUN mode as a first-class ``spark.read``
    source: the runner process drains the pull callback (two pulls of
    half the nation table each, then EOF) and must reproduce the
    parquet table exactly (the oracle reads the parquet view).

    This is the escape hatch for sources no JVM connector covers
    (internal REST cursors, SDK paginators): schema declared up front,
    rows stream Arrow-batched out of the Python runner. Scale honesty:
    a driver-supplied pull callback is inherently sequential — ONE
    input partition by design (the adapter documents it) — so at
    100 TB this is the seed/ingest path, never the fact-table path;
    land it to parquet on first touch (q_scan_text doctrine).
    """
    from asyncdatapipeline_spark.sources.pull_source import collect_func_batch

    return collect_func_batch(
        spark,
        _nation_pull_fn(sf_dir),
        schema="n_nationkey int, n_name string, n_regionkey int",
    ).orderBy("n_nationkey")


@query(
    "q_scan_csv_multiline",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan in multiLine mode: quoted fields containing embedded
    NEWLINES (the classic CSV-dialect trap — address/comment columns
    exported by spreadsheets) round-trip correctly. The fixture
    re-lands nation with each name wrapped as 'X\\nY' and the reader
    must reassemble it; the result is verified equal to the source
    table after stripping the planted newline.

    Scale honesty documented: ``multiLine`` disables newline-based
    record splitting, so each FILE becomes one parse unit (like XML) —
    at 100 TB you keep multiline CSV out of the hot path entirely and
    re-land to parquet on first touch (q_scan_text doctrine); this
    entry exists because ingest corpora arrive in this shape whether
    you like it or not.
    """
    path = _scratch(sf_dir, "nation_csv_ml")
    n = load_table(spark, sf_dir, "nation")
    # plant a real newline INSIDE the quoted name field
    n.select(
        "n_nationkey",
        F.concat(F.substring("n_name", 1, 2), F.lit("\n"),
                 F.expr("substring(n_name, 3)")).alias("n_name"),
        "n_regionkey",
    ).coalesce(1).write.mode("overwrite").option("header", "true").option(
        "quoteAll", "true"
    ).csv(path)
    return (
        spark.read.schema(NATION_SCHEMA)
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
        .select(
            "n_nationkey",
            F.regexp_replace("n_name", "\n", "").alias("n_name"),
            "n_regionkey",
        )
        .orderBy("n_nationkey")
    )


@query(
    "q_scan_json_array",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scan in multiLine mode: one top-level JSON ARRAY per file
    (the REST-API-dump shape) instead of JSON-lines — the other half of
    the JSON ingest surface beside q_scan_json (APIs return arrays;
    log shippers emit lines; a pipeline meets both). The fixture
    re-lands region as a single pretty-printed array and the reader
    must explode it back to rows equal to the source table.

    Same parse-unit caveat as multiLine CSV/XML: one array file = one
    parse task, so the writer side shards into many files at scale.
    """
    import json as _json

    path = _scratch(sf_dir, "region_json_array")
    marker = os.path.join(path, "_BUILT")
    if not os.path.exists(marker):
        os.makedirs(path, exist_ok=True)
        rows = [
            {"r_regionkey": r["r_regionkey"], "r_name": r["r_name"]}
            for r in load_table(spark, sf_dir, "region")
            .select("r_regionkey", "r_name")
            .orderBy("r_regionkey")
            .collect()  # dimension-sized (5 rows): fixture build only
        ]
        with open(os.path.join(path, "regions.json"), "w") as f:
            _json.dump(rows, f, indent=2)
        with open(marker, "w"):
            pass
    return (
        spark.read.schema(REGION_SCHEMA)
        .option("multiLine", "true")
        .json(os.path.join(path, "regions.json"))
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )


@query(
    "q_scan_files",
    # Deliberately NO SQL oracle — the one rows-only entry in the
    # registry, with the reason stated: file-level layout is invisible
    # through the driver's relational VIEW contract (the oracle sees
    # `lineitem` the view, not the parquet files behind it), so no SQL
    # over the registered views can name files. Physical-layout
    # semantics are instead pinned by the planted pytest, which writes
    # a known 3-file layout (one file deliberately tiny) and asserts
    # the exact per-file rows and the small-file flag.
    #
    # Row identity: input_file_name() evaluates above the scan repair's
    # exchange and would return '' for every row.
    scan_repair=False,
)
def q_scan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout profile: per-file row counts of the lineitem
    dataset, each file's skew against the mean, and a small-file flag
    (< 10% of mean) — the input to every compaction decision
    (q_layout's compact_dataset consumes exactly this shape) and the
    first diagnostic for "why is one task slow": a file 10× the mean
    is a straggler task; a thousand 1%-of-mean files are a
    scheduling-overhead fire.

    Scale shape: ``input_file_name()`` is a zero-cost virtual column;
    the per-file count is a grouped aggregate whose key count equals
    the FILE count (layout-sized, not row-sized), and the single-row
    stats frame broadcasts back. This runs as one scan at any data
    size. The oracle reads the identical physical files with DuckDB's
    ``filename=true``, so the two engines audit the same layout —
    basenames normalized across the file:-URI dialect difference.
    """
    li = load_table(spark, sf_dir, "lineitem")
    f = (
        li.select(
            F.regexp_extract(
                F.input_file_name(), r"([^/]+)$", 1
            ).alias("file")
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    s = f.agg(
        (F.sum("n_rows").cast("double") / F.count(F.lit(1))).alias(
            "mean_rows"
        ),
        F.max("n_rows").cast("long").alias("max_rows"),
    )
    return (
        f.crossJoin(F.broadcast(s))
        .select(
            "file",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("mean_rows"), 6).alias(
                "skew_vs_mean"
            ),
            (F.col("n_rows") < F.col("mean_rows") * 0.1).alias(
                "small_file"
            ),
        )
        .orderBy("file")
    )


_SNIFF_CANDIDATES = ("|", ";", "\t", ",")


@query(
    "q_scan_csv_sniff",
    # The sniffed dialect is a deterministic argmax over exact
    # delimiter counts (tie → candidate order); the parsed output must
    # equal the source table, which is what the oracle reads.
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimiter-sniffing CSV ingest: the fixture arrives as a
    headerless PIPE-delimited file (the classic TPC-H dump dialect),
    the reader counts candidate delimiters over the raw text, picks
    the winner, and parses with it — the auto-dialect step every
    ingest-anything platform runs before schema application, here as
    an explicit two-phase plan: ONE aggregate over the text scan
    produces four exact counts, the 1-row result is the sanctioned
    O(1) driver scalar (same class as dist_cumsum's boundary collect),
    and the parse plan is then BUILT with the winning delimiter as a
    literal (Spark options are plan-time constants — a dynamic
    delimiter is structurally a two-phase read, and pretending
    otherwise just hides phase one inside a UDF).

    Scale shape: phase one is a map-combinable 4-counter aggregate
    over the text scan; phase two is the ordinary schema'd CSV read.
    The comment-vs-data risk (a delimiter inside quoted fields) is
    why counts run over the WHOLE file, not a head sample.
    """
    path = _scratch(sf_dir, "nation_pipe")
    n = load_table(spark, sf_dir, "nation")
    (
        n.select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "false")
        .option("sep", "|")
        .csv(path)
    )
    raw = spark.read.text(path)
    counts = raw.agg(
        *[
            F.sum(
                F.length("value")
                - F.length(F.replace("value", F.lit(d), F.lit("")))
            ).cast("long").alias(f"c{i}")
            for i, d in enumerate(_SNIFF_CANDIDATES)
        ]
    ).collect()[0]  # 1-row O(1) scalar: the sniffed dialect
    best = max(
        range(len(_SNIFF_CANDIDATES)),
        key=lambda i: (counts[f"c{i}"] or 0, -i),
    )
    sep = _SNIFF_CANDIDATES[best]
    sniff_schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    )
    return (
        spark.read.schema(sniff_schema)
        .option("header", "false")
        .option("sep", sep)
        .csv(path)
    )


@query(
    "q_scan_sorted_stats",
    # The sorted rewrite is deterministic (sort keys + ids); the
    # filtered read must reproduce exactly the oracle's filtered
    # select — what's under test is that the LAYOUT (sort-on-write)
    # lets parquet row-group stats answer the predicate.
    oracle="""
SELECT event_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
       event_type, value
FROM events
WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT)
      BETWEEN 19730 AND 19736
""",
)
def q_scan_sorted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-skipping scan over a SORT-ON-WRITE layout: rewrite events
    sorted by day into multi-row-group parquet, then read one week
    back through a day-range predicate — the poor man's clustering
    that makes parquet min/max row-group stats actually skip I/O
    (unsorted data gives every row group the full min-max span, so
    stats prune NOTHING; sorting on the filter column is the cheapest
    layout intervention there is, q_layout_zorder's 1-D special case).
    At 100 TB this is the difference between reading one day and
    reading the year.

    Scale shape: the rewrite is a one-time range-sorted write (small
    row groups forced so the fixture file actually has stats
    granularity); the read is an ordinary parquet scan whose pushed
    day-range predicate lands in PushedFilters and prunes row groups
    via stats. The derived layout is keyed on (sf_dir, source size,
    source mtime) and rebuilt on demand — regenerating the events
    fixture in place invalidates the sorted copy instead of silently
    serving stale rows (ADVICE r9).
    """
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        fingerprint = f"{int(st.st_mtime_ns)}_{st.st_size}"
    except OSError:
        fingerprint = "nostat"
    path = _scratch(sf_dir, f"events_day_sorted_{fingerprint}")
    marker = os.path.join(path, "_SUCCESS")
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        "event_type",
        "value",
    )
    if not os.path.exists(marker):
        (
            e.repartition(1)
            .sortWithinPartitions("day", "event_id")
            .write.mode("overwrite")
            .option("parquet.block.size", 64 * 1024)  # many row groups
            .parquet(path)
        )
    lo, hi = 19730, 19736
    return (
        spark.read.parquet(path)
        .filter(F.col("day").between(lo, hi))
        .select("event_id", "day", "event_type", "value")
    )


@query(
    "q_scan_csv_gzip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV scan (codec coverage beside q_scan_csv):
    parquet → .csv.gz → read back with an explicit schema; must equal
    the source table. The codec is transparent to the reader — but NOT
    to the scheduler, and that is the 100 TB lesson this op pins in its
    plan: gzip is an UNSPLITTABLE codec, so one .csv.gz file is one
    task no matter its size (a 100 GB gzip file serializes a whole
    executor fleet behind a single core). At scale: land many
    moderately-sized .gz shards (the upstream's natural batching), or
    re-land into a splittable container (parquet+zstd, or bzip2 if it
    must stay CSV) on first touch — this engine's layout ops
    (q_layout_file_plan) price exactly that rewrite.
    """
    path = _scratch(sf_dir, "nation_csv_gz")
    n = load_table(spark, sf_dir, "nation")
    (
        n.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("compression", "gzip")
        .csv(path)
    )
    return (
        spark.read.schema(NATION_SCHEMA).option("header", "true").csv(path)
    )


# ---------------------------------------------------------------------------
# Schema-evolution scan: mergeSchema over two parquet generations
# ---------------------------------------------------------------------------

_MERGE_SPLIT_DAY = 19740  # generation boundary (fixture spans ~19720+)


@query(
    "q_scan_merge_schema",
    # The two generations are deterministic day-range slices of the
    # source view, so the merged read's per-type counts/null-counts/
    # sums are plain conditional aggregates over `events`; the value
    # sum rides the exact decimal grid. The null count mirrors the
    # engine's REAL NULL semantics (old-generation rows lack the
    # column entirely, AND any source NULL in the new generation
    # survives the merged read) — `day < split OR value IS NULL`,
    # not the positional day-range shortcut, so a fixture that gains
    # NULL values keeps both sides in agreement.
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT)
                          < {_MERGE_SPLIT_DAY}
                     OR value IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_value_null,
       round(CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT)
                                >= {_MERGE_SPLIT_DAY}
                           THEN CAST(value AS DECIMAL(28,6)) END)
                  AS DOUBLE), 6) AS sum_value_new
FROM events GROUP BY 1 ORDER BY 1
""",
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: generation 1 of the derived layout was
    written BEFORE the `value` column existed, generation 2 carries
    it; ``mergeSchema=true`` reconciles the footers and surfaces the
    missing column as NULL for old files — the per-type null count IS
    the migration-progress readout ("how much of the lake still lacks
    the new field"), the question every schema-evolving 100 TB table
    answers weekly. Without mergeSchema Spark reads ONE footer and
    either drops the column or fails — the audit would silently lie.

    Scale shape: writing the two generations is fixture plumbing
    (day-range slices of the source); the audited plan is one merged
    scan + one map-combinable conditional aggregate onto the bounded
    type grid. mergeSchema costs one footer read per FILE at planning
    — layout-sized, not row-sized.
    """
    path = _scratch(sf_dir, "events_twogen")
    if not os.path.isdir(path):
        # The generations are deterministic slices of sf_dir, so the
        # layout is write-once. Build it under a per-run unique temp
        # sibling and atomically rename into place: a concurrent run
        # (bench + stress on the same sf_dir) either wins the rename
        # or observes the winner's COMPLETE directory — never a
        # partially written generation.
        tmp = path + ".tmp-" + uuid.uuid4().hex
        e = load_table(spark, sf_dir, "events")
        day = (
            F.floor(F.unix_timestamp("ts").cast("double") / 86400)
            .cast("long")
        )
        (
            e.filter(day < _MERGE_SPLIT_DAY)
            .select("event_id", "event_type")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen=1"))
        )
        (
            e.filter(day >= _MERGE_SPLIT_DAY)
            .select("event_id", "event_type", "value")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen=2"))
        )
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_value_null"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"),
                6,
            ).alias("sum_value_new"),
        )
        .orderBy("event_type")
    )

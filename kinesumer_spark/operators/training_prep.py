"""Training-set preparation operators over `documents`: GPT-style
concat-and-chunk sequence packing, deterministic hash-based
train/val/test splitting, and temperature-based language resampling.

These are the steps between curation (dedup/quality, operators/text.py,
operators/dedup.py) and the tokenizer/dataloader: every large-scale LLM
pipeline runs some form of all three. The reference has no analog (it
delivers opaque records and leaves processing to the application —
kinesumer.go:97-102); they are part of this engine's declared
LLM-pipeline surface (SURVEY.md §2.2, round-5 additions).

All three are oracle-exact: integer token counts, sha256-prefix split
buckets, and IEEE-exact sqrt/ordered-cumsum weights reproduce
bit-for-bit in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesumer_spark.catalog import read_table
from kinesumer_spark.operators.dedup import _sha32, _sha32_duck
from kinesumer_spark.registry import register

_SEQ_LEN = 512  # tokens per packed training sequence
_BLOCK = 100  # docs per prefix-sum block (see pack_sequences docstring)


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def exclusive_prefix(
    df: DataFrame, order_cols: list[str], value: str, alias: str
) -> DataFrame:
    """Exclusive running sum of ``value`` in ``order_cols`` order — an
    unpartitioned window, so call it ONLY on bounded summary relations
    (block totals, bin counts), never on data-sized ones."""
    return df.withColumn(
        alias,
        F.coalesce(
            F.sum(value).over(
                W.orderBy(*order_cols).rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )


def block_running_offset(
    d: DataFrame,
    value: str,
    order_col: str,
    block_cols: list[str],
    alias: str,
) -> DataFrame:
    """Append ``alias`` = exclusive running sum of ``value`` over rows
    ordered by (*block_cols, order_col) — the TWO-PASS distributed
    prefix sum: per-block totals (one narrow groupBy), exclusive
    prefix over the bounded block-summary relation only, broadcast
    back, cumsum WITHIN each block (partitioned window — parallel).
    ONE definition shared by pack_sequences and pipeline_training_mix's
    packing stage (pack_bins_greedy's bin numbering uses the
    ``exclusive_prefix`` sub-step directly — its values are already
    per-block aggregates) so the offset arithmetic can never fork
    (r11 review — the temperature_copies discipline applied to the
    prefix sum)."""
    block_tot = d.groupBy(*block_cols).agg(F.sum(value).alias("_bt"))
    prefix = exclusive_prefix(block_tot, block_cols, "_bt", "_boff").select(
        *block_cols, "_boff"
    )
    win = (
        W.partitionBy(*block_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(prefix), block_cols)
        .withColumn(
            alias, F.col("_boff") + F.sum(value).over(win) - F.col(value)
        )
        .drop("_boff")
    )


_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), c AS (
  SELECT doc_id, tokens,
         CAST(SUM(tokens) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - tokens AS BIGINT)
           AS start_off
  FROM t
)
SELECT doc_id, tokens, start_off,
       start_off // {_SEQ_LEN} AS first_chunk,
       (start_off + tokens - 1) // {_SEQ_LEN} AS last_chunk,
       (start_off + tokens - 1) // {_SEQ_LEN} - start_off // {_SEQ_LEN} + 1
         AS n_chunks
FROM c
ORDER BY doc_id
"""


@register("pack_sequences", oracle=_PACK_ORACLE, tags=("training", "pack"))
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: concatenate all documents in
    doc_id order and cut every ``_SEQ_LEN`` tokens; emit each document's
    global token offset and the chunk span it lands in (GPT-style
    pretraining layout — documents may straddle chunk boundaries).

    Scale: the naive form is one global window (ORDER BY doc_id with no
    PARTITION BY — a single-partition sort at 100 TB). Implemented
    instead as the classic TWO-PASS distributed prefix sum:
    (1) per-block token totals (block = doc_id div {_BLOCK}) — one
    narrow groupBy; (2) block-prefix offsets via a window over the
    block-totals relation ONLY (rows = |docs|/{_BLOCK}, bounded; ~10⁶
    rows at 10⁸ docs — still one partition but of block summaries, not
    data); (3) broadcast-join prefixes back and cumsum WITHIN each
    block (window partitioned by block — parallel). The oracle replays
    the plain global-window form; both produce identical integer
    offsets.
    """
    d = _t(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("tokens")
    )
    # materialize the 24 B/doc (doc_id, tokens, block) projection once:
    # the shared prefix sum reads it twice (block totals + offset join),
    # and without the checkpoint each read re-scans and re-splits the
    # full text column (r12)
    d = d.withColumn("block", F.expr(f"doc_id div {_BLOCK}")).localCheckpoint(
        eager=False
    )
    out = (
        block_running_offset(d, "tokens", "doc_id", ["block"], "start_off")
        .selectExpr(
            "doc_id",
            "tokens",
            "start_off",
            f"start_off div {_SEQ_LEN} AS first_chunk",
            f"(start_off + tokens - 1) div {_SEQ_LEN} AS last_chunk",
            f"(start_off + tokens - 1) div {_SEQ_LEN}"
            f" - start_off div {_SEQ_LEN} + 1 AS n_chunks",
        )
    )
    return out.orderBy("doc_id")


_SWEEP_LENS = (256, 512, 1024)  # candidate sequence lengths

_SEQLEN_SWEEP_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), c AS (
  SELECT doc_id, tokens,
         CAST(SUM(tokens) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - tokens AS BIGINT)
           AS start_off
  FROM t
), l AS (
  SELECT UNNEST({list(_SWEEP_LENS)}) AS seq_len
)
SELECT l.seq_len,
       CAST(SUM(c.tokens) AS BIGINT) AS total_tokens,
       CAST((SUM(c.tokens) + l.seq_len - 1) // l.seq_len AS BIGINT)
         AS total_chunks,
       CAST(SUM(CASE WHEN (c.start_off + c.tokens - 1) // l.seq_len
                       <> c.start_off // l.seq_len THEN 1 ELSE 0 END)
            AS BIGINT) AS n_straddled,
       CAST(SUM((c.start_off + c.tokens - 1) // l.seq_len
                - c.start_off // l.seq_len) AS BIGINT) AS boundary_crossings,
       CAST((SUM(c.tokens) + l.seq_len - 1) // l.seq_len * l.seq_len
            - SUM(c.tokens) AS BIGINT) AS tail_pad_tokens
FROM c CROSS JOIN l
GROUP BY l.seq_len
ORDER BY l.seq_len
"""


@register(
    "pack_seqlen_sweep",
    oracle=_SEQLEN_SWEEP_ORACLE,
    tags=("training", "pack"),
)
def pack_seqlen_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length sweep for the concat-and-chunk layout — the
    "which seq_len do we train at" planning query: for each candidate
    length (256/512/1024), the packed-chunk total, how many documents
    straddle a chunk boundary (each straddle splits a document's
    attention span across training sequences), total boundary
    crossings (a long doc can straddle several), and the tail padding
    the final partial chunk wastes. Real pretraining runs sweep this
    once per corpus before committing GPU-months; longer sequences cut
    straddles but pay quadratic attention — this row supplies the data
    side of that tradeoff.

    Scale: ONE distributed prefix-sum pass (pack_sequences' shared
    two-pass block_running_offset — never a global data-sized sort),
    then a 3-way explode of the candidate lengths and a |lens|-row
    aggregate: the corpus is scanned once no matter how many lengths
    are swept. All arithmetic is int64 floor-division, replayed
    bit-for-bit by the oracle's global-window form."""
    d = _t(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("tokens")
    )
    # one corpus scan total: the slim projection is checkpointed before
    # the prefix sum's two reads (see pack_sequences)
    d = d.withColumn("block", F.expr(f"doc_id div {_BLOCK}")).localCheckpoint(
        eager=False
    )
    offs = block_running_offset(d, "tokens", "doc_id", ["block"], "start_off")
    lens = ", ".join(str(l) for l in _SWEEP_LENS)
    return (
        offs.select(
            "tokens",
            "start_off",
            F.explode(F.expr(f"array({lens})")).alias("seq_len"),
        )
        .groupBy("seq_len")
        .agg(
            F.sum("tokens").cast("bigint").alias("total_tokens"),
            F.expr(
                "cast((sum(tokens) + seq_len - 1) div seq_len AS bigint)"
            ).alias("total_chunks"),
            F.sum(
                F.when(
                    F.expr(
                        "(start_off + tokens - 1) div seq_len"
                        " <> start_off div seq_len"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_straddled"),
            F.sum(
                F.expr(
                    "(start_off + tokens - 1) div seq_len"
                    " - start_off div seq_len"
                )
            )
            .cast("bigint")
            .alias("boundary_crossings"),
            F.expr(
                "cast((sum(tokens) + seq_len - 1) div seq_len * seq_len"
                " - sum(tokens) AS bigint)"
            ).alias("tail_pad_tokens"),
        )
        .orderBy("seq_len")
    )


# Split buckets from a sha256 prefix of the SALTED doc id: stable under
# re-sharding and re-ordering (content-free, id-keyed), identical in any
# engine. 80/10/10.
_SALTED_SPARK = "concat('split:', doc_id)"
_SALTED_DUCK = "'split:' || doc_id"
_SPLIT_EXPR_SPARK = f"{_sha32(_SALTED_SPARK)} % 100"
_SPLIT_EXPR_DUCK = f"{_sha32_duck(_SALTED_DUCK)} % 100"


def _split_case(bucket_expr: str) -> str:
    return (
        f"CASE WHEN ({bucket_expr}) < 80 THEN 'train' "
        f"WHEN ({bucket_expr}) < 90 THEN 'val' ELSE 'test' END"
    )


_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, {_split_case(_SPLIT_EXPR_DUCK)} AS split
  FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM b
GROUP BY split
ORDER BY split
"""


@register("split_train_val_test", oracle=_SPLIT_ORACLE, tags=("training", "sample"))
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on a salted
    sha256 prefix of doc_id — reproducible across engines, runs, and
    re-partitionings (never use rand(): a re-run must not move documents
    between splits). Emits per-split counts + an id checksum so the
    driver hash-checks the exact membership, not just sizes.

    Scale: one narrow map + one 3-group aggregate; the split column
    itself is the per-row deliverable and pipelines into any downstream
    filter with zero shuffle."""
    d = _t(spark, sf_dir)
    return (
        d.selectExpr("doc_id", f"{_split_case(_SPLIT_EXPR_SPARK)} AS split")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


_RESAMPLE_ORACLE = """
WITH n AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS wt,
         SUM(sqrt(CAST(n_docs AS DOUBLE)))
           OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cum_wt,
         SUM(n_docs) OVER () AS total_docs
  FROM n
), tot AS (
  SELECT lang, n_docs, wt, total_docs, MAX(cum_wt) OVER () AS total_wt FROM w
)
SELECT lang, n_docs,
       CAST(FLOOR(total_docs * wt / total_wt) AS BIGINT) AS target_docs,
       round(FLOOR(total_docs * wt / total_wt) / CAST(n_docs AS DOUBLE), 6)
         AS sampling_rate
FROM tot
ORDER BY lang
"""


def _split_leak_oracle() -> str:
    from kinesumer_spark.operators.dedup import _minhash_cte

    return f"""
WITH {_minhash_cte()}, sp AS (
  SELECT doc_id, {_split_case(_SPLIT_EXPR_DUCK)} AS split FROM documents
), vp AS (
  SELECT p.doc_a, p.doc_b
  FROM p JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
  WHERE round(shared / CAST(na + nb - shared AS DOUBLE), 6) >= 0.5
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM vp
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM vp
), hsh AS (
  SELECT d.doc_id, s2.split, sha256(d.text) AS ch
  FROM documents d JOIN sp s2 ON s2.doc_id = d.doc_id
), exleak AS (
  SELECT doc_id, split FROM hsh
  WHERE split <> 'train'
    AND ch IN (SELECT ch FROM hsh WHERE split = 'train')
), ndleak AS (
  SELECT s2.doc_id, s2.split
  FROM sp s2
  WHERE s2.split <> 'train' AND s2.doc_id IN (
    SELECT e.u FROM edges e JOIN sp t ON t.doc_id = e.v AND t.split = 'train'
  )
), ev AS (
  SELECT split, COUNT(*) AS n_docs FROM sp WHERE split <> 'train' GROUP BY split
)
SELECT ev.split, ev.n_docs,
       CAST(COALESCE(x.n, 0) AS BIGINT) AS n_exact_leak,
       CAST(COALESCE(x.cs, 0) AS BIGINT) AS exact_id_checksum,
       CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_neardup_leak,
       CAST(COALESCE(nd.cs, 0) AS BIGINT) AS neardup_id_checksum
FROM ev
LEFT JOIN (
  SELECT split, COUNT(*) AS n, SUM(doc_id) AS cs FROM exleak GROUP BY split
) x ON x.split = ev.split
LEFT JOIN (
  SELECT split, COUNT(*) AS n, SUM(doc_id) AS cs FROM ndleak GROUP BY split
) nd ON nd.split = ev.split
ORDER BY ev.split
"""


@register(
    "split_leakage_audit",
    oracle=_split_leak_oracle(),
    tags=("training", "dedup", "audit"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination audit across the deterministic 80/10/10
    split: for each eval split (val, test), count documents that leak
    from train EXACTLY (identical sha256(text) also present in train —
    duplicate clusters straddling the split boundary) and as NEAR-DUPS
    (a verified MinHash-LSH partner with Jaccard ≥ 0.5 in train), with
    doc_id checksums pinning the exact leaked membership. This is the
    split-side twin of eval-suite decontamination (text.py): an id-keyed
    split does NOT imply content-level separation, and leaked eval docs
    inflate benchmark scores — the audit quantifies exactly how many.

    Reuses the registered tiers wholesale: the split column is the same
    salted sha256 bucket as ``split_train_val_test``; the near-dup pairs
    are ``minhash_pairs_df`` (identical constants, so this audit and the
    dedup tier cannot disagree on what "near-dup" means). Reference has
    no analog (delivers opaque records, kinesumer.go:97-102).

    Scale (100 TB): exact tier is a 32-byte-digest semi-join — the text
    never shuffles, only (doc_id, split, digest); near-dup tier is the
    banded LSH pipeline (fixed-size signatures, per-bucket candidate
    joins, never all-pairs); the leak relation then joins ids only. The
    final rollup is 2 rows. No broadcast of the train side (80 % of the
    corpus): both leak joins shuffle on digest/id keys as they must.
    """
    from kinesumer_spark.operators.dedup import minhash_pairs_df

    # r18: a single materialization point (gated fan_out + lazy
    # localCheckpoint above the four text consumers) was TRIED here and
    # REJECTED on idle interleaved A/B: 0.85x (the r17 plain fan_out read
    # 0.86x) — the checkpoint materialization + extra stage boundaries
    # cost more than the parallelism recovers at this chain weight.
    d = _t(spark, sf_dir)
    sp = d.selectExpr(
        "doc_id", f"{_split_case(_SPLIT_EXPR_SPARK)} AS split"
    ).localCheckpoint(eager=False)

    hashed = d.selectExpr(
        "doc_id", "sha2(cast(text AS binary), 256) AS ch"
    ).join(sp, "doc_id")
    train_h = hashed.filter("split = 'train'").select("ch").distinct()
    exact_leak = (
        hashed.filter("split <> 'train'").join(train_h, "ch", "left_semi")
    )

    pairs = minhash_pairs_df(d)
    edges = pairs.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
        pairs.selectExpr("doc_b AS u", "doc_a AS v")
    )
    train_ids = sp.filter("split = 'train'").selectExpr("doc_id AS v")
    nd_leak = (
        edges.join(train_ids, "v", "left_semi")
        .selectExpr("u AS doc_id")
        .distinct()
        .join(sp.filter("split <> 'train'"), "doc_id")
    )

    ev = sp.filter("split <> 'train'").groupBy("split").agg(
        F.count("*").alias("n_docs")
    )
    ex_agg = exact_leak.groupBy("split").agg(
        F.count("*").alias("n_exact_leak"),
        F.sum("doc_id").alias("exact_id_checksum"),
    )
    nd_agg = nd_leak.groupBy("split").agg(
        F.count("*").alias("n_neardup_leak"),
        F.sum("doc_id").alias("neardup_id_checksum"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        ev.join(ex_agg, "split", "left")
        .join(nd_agg, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_exact_leak", zero).alias("n_exact_leak"),
            F.coalesce("exact_id_checksum", zero).alias("exact_id_checksum"),
            F.coalesce("n_neardup_leak", zero).alias("n_neardup_leak"),
            F.coalesce("neardup_id_checksum", zero).alias("neardup_id_checksum"),
        )
        .orderBy("split")
    )


@register("resample_temperature", oracle=_RESAMPLE_ORACLE, tags=("training", "sample"))
def resample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (α = 0.5): target counts
    proportional to n_lang^α — upsamples low-resource languages,
    downsamples dominant ones (the multilingual-pretraining standard;
    α = 0.5 keeps every weight an IEEE-exact sqrt, so both engines
    round identically).

    Determinism detail: the weight TOTAL is taken as the maximum of an
    ORDERED running sum over langs (not an unordered SUM of doubles),
    so the float additions happen in the same order in both engines.

    Scale: |langs| rows after one groupBy — the windows run over a
    handful of rows; the emitted sampling_rate column drives a
    downstream sample_hash_deterministic pass (reshape.py) at full
    scale."""
    d = _t(spark, sf_dir)
    n = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = n.select(
        "lang",
        "n_docs",
        F.sqrt(F.col("n_docs").cast("double")).alias("wt"),
        F.sum(F.sqrt(F.col("n_docs").cast("double")))
        .over(W.orderBy("lang").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_wt"),
        F.sum("n_docs").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("total_docs"),
    )
    tot = w.select(
        "lang",
        "n_docs",
        "wt",
        "total_docs",
        F.max("cum_wt")
        .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("total_wt"),
    )
    return tot.selectExpr(
        "lang",
        "n_docs",
        "CAST(FLOOR(total_docs * wt / total_wt) AS BIGINT) AS target_docs",
        "round(FLOOR(total_docs * wt / total_wt) / CAST(n_docs AS DOUBLE), 6)"
        " AS sampling_rate",
    ).orderBy("lang")


_PROFILE_ORACLE = """
WITH per AS (
  SELECT 'doc_id' AS column_name,
         COUNT(*) - COUNT(doc_id) AS n_nulls,
         COUNT(DISTINCT doc_id) AS n_distinct,
         CAST(MIN(doc_id) AS VARCHAR) AS min_value,
         CAST(MAX(doc_id) AS VARCHAR) AS max_value
  FROM documents
  UNION ALL
  SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
         MIN(lang), MAX(lang) FROM documents
  UNION ALL
  SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
         MIN(source), MAX(source) FROM documents
  UNION ALL
  SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
         CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'text_len', COUNT(*) - COUNT(text), COUNT(DISTINCT length(text)),
         CAST(MIN(length(text)) AS VARCHAR), CAST(MAX(length(text)) AS VARCHAR)
  FROM documents
)
SELECT column_name, CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_value, max_value
FROM per ORDER BY column_name
"""


@register("profile_documents", oracle=_PROFILE_ORACLE, tags=("training", "profile"))
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (the pre-ingest health check every pipeline runs
    before committing 100 TB to a training mix): per-column null count,
    distinct count, and min/max, one row per column.

    Scale: ONE scan computes every column's aggregates side by side
    (Catalyst evaluates all agg expressions in a single partial+final
    pass — no per-column rescans); the per-column rows are unpivoted
    from that single aggregate row map-side. COUNT(DISTINCT) over
    multiple columns expands the aggregate buffers, not the scan count;
    for wider tables swap in approx_count_distinct (HLL) — the exact
    form here is what the oracle can replay."""
    d = _t(spark, sf_dir)
    row = d.agg(
        (F.count(F.lit(1)) - F.count("doc_id")).alias("id_nulls"),
        F.countDistinct("doc_id").alias("id_dist"),
        F.min("doc_id").cast("string").alias("id_min"),
        F.max("doc_id").cast("string").alias("id_max"),
        (F.count(F.lit(1)) - F.count("lang")).alias("lang_nulls"),
        F.countDistinct("lang").alias("lang_dist"),
        F.min("lang").alias("lang_min"),
        F.max("lang").alias("lang_max"),
        (F.count(F.lit(1)) - F.count("source")).alias("src_nulls"),
        F.countDistinct("source").alias("src_dist"),
        F.min("source").alias("src_min"),
        F.max("source").alias("src_max"),
        (F.count(F.lit(1)) - F.count("n_chars")).alias("nc_nulls"),
        F.countDistinct("n_chars").alias("nc_dist"),
        F.min("n_chars").cast("string").alias("nc_min"),
        F.max("n_chars").cast("string").alias("nc_max"),
        (F.count(F.lit(1)) - F.count("text")).alias("tl_nulls"),
        F.countDistinct(F.length("text")).alias("tl_dist"),
        F.min(F.length("text")).cast("string").alias("tl_min"),
        F.max(F.length("text")).cast("string").alias("tl_max"),
    )
    unpivoted = row.selectExpr(
        """stack(5,
           'doc_id',  id_nulls,  id_dist,  id_min,  id_max,
           'lang',    lang_nulls, lang_dist, lang_min, lang_max,
           'n_chars', nc_nulls,  nc_dist,  nc_min,  nc_max,
           'source',  src_nulls, src_dist, src_min, src_max,
           'text_len', tl_nulls, tl_dist, tl_min, tl_max)
           AS (column_name, n_nulls, n_distinct, min_value, max_value)"""
    )
    return unpivoted.selectExpr(
        "column_name",
        "CAST(n_nulls AS BIGINT) AS n_nulls",
        "CAST(n_distinct AS BIGINT) AS n_distinct",
        "min_value",
        "max_value",
    ).orderBy("column_name")


# -- quality-weighted deterministic sampling ---------------------------------

_QW_SAT = 500  # saturation half-point of the length-quality weight


_QW_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         {_sha32_duck("'qw:' || doc_id")} % (n_chars + {_QW_SAT}) < n_chars
           AS keep
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
         AS id_checksum
FROM d
GROUP BY lang
ORDER BY lang
"""


@register(
    "sample_quality_weighted", oracle=_QW_ORACLE, tags=("training", "sample")
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WEIGHTED Bernoulli sampling, fully deterministic:
    document d is kept iff

        sha32('qw:' || doc_id)  mod  (n_chars + {_QW_SAT})  <  n_chars

    an EXACT integer Bernoulli draw with keep probability
    p(d) = n_chars / (n_chars + {_QW_SAT}) — the saturating length
    weight (longer documents are likelier training keepers; p → 1 as
    n_chars ≫ {_QW_SAT}, p = ½ at n_chars = {_QW_SAT}). This is the
    importance-sampling step of a data-mixing pipeline (quality-weighted
    keep/drop at corpus scale), complementing split_train_val_test
    (uniform buckets) and resample_temperature (which PLANS per-lang
    rates but does not draw). Replacing n_chars with any integer quality
    score (text_doc_score's scaled output) is the same plan.

    Determinism/portability: the sha256-prefix hash and the modulus are
    non-negative int64 on both engines, so `%` and `<` agree exactly —
    no float enters the draw. The modulo-bias of hash%m is O(m/2³²),
    irrelevant for sampling and IDENTICAL in both engines anyway.

    Scale: one map-side scan (hash + compare per row, zero shuffles)
    followed by a |langs|-row aggregate — the cheapest possible
    full-corpus pass; the keep decision is reproducible per row from
    (doc_id, n_chars) alone, so resumption/sharding need no state."""
    salted = "concat('qw:', cast(doc_id AS string))"
    keep = F.expr(f"{_sha32(salted)} % (n_chars + {_QW_SAT}) < n_chars")
    return (
        _t(spark, sf_dir)
        .select("doc_id", "lang", "n_chars", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("id_checksum"),
        )
        .orderBy("lang")
    )


def temperature_plan_cte(src: str, key: str, count_alias: str, d: int) -> str:
    """DuckDB CTE fragment: the alpha=0.5 temperature plan + integer
    draw threshold over ``src`` rows grouped by ``key``. Emits CTEs
    ``tn``/``tw``/``tplan``/``thr`` — ``thr({key}, {count_alias},
    target_docs, threshold)``. ONE definition shared by the standalone
    sample_temperature_draw oracle and the pipeline oracle so the plan
    arithmetic can never drift between them (r10 review). Portability
    discipline per resample_temperature: IEEE-exact sqrt weights, an
    ORDERED running sum for the total, int64 after the FLOOR.

    The threshold comes from the UNROUNDED rate ``total_n / (W·√n)``
    (W = the weight total), not from the floored target: flooring the
    target first made the rate non-monotone in key size (counts
    [46, 43, 41, 1, 40] kept the 41-doc key at a lower rate than the
    40-doc key). The quotient is monotone under IEEE rounding; a key
    whose target reaches its count keeps all (threshold == D), which
    the rate alone can miss by one ulp (√n·√n ≠ n). target_docs keeps
    the floor, so the targets never sum past the total."""
    return f"""tn AS (
  SELECT {key} AS k, COUNT(*) AS n FROM {src} GROUP BY {key}
), tw AS (
  SELECT k, n, sqrt(CAST(n AS DOUBLE)) AS wt,
         SUM(sqrt(CAST(n AS DOUBLE)))
           OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum_wt,
         SUM(n) OVER () AS total_n
  FROM tn
), tplan AS (
  SELECT k, n, wt, total_n, MAX(cum_wt) OVER () AS tot_wt,
         CAST(FLOOR(total_n * wt / MAX(cum_wt) OVER ()) AS BIGINT)
           AS target_docs
  FROM tw
), thr AS (
  SELECT k AS {key}, n AS {count_alias}, target_docs,
         {_temperature_threshold_sql(d)} AS threshold
  FROM tplan
)"""


def _temperature_threshold_sql(d: int) -> str:
    """The draw threshold shared by both engines' plans (see
    temperature_plan_cte); columns n, wt, total_n, tot_wt, target_docs."""
    return (
        f"CASE WHEN target_docs >= n THEN {d} ELSE LEAST({d}, "
        f"CAST(FLOOR({d} * total_n / (tot_wt * wt)) AS BIGINT)) END"
    )


def temperature_plan_df(
    rows: DataFrame, key: str, count_alias: str, d: int
) -> DataFrame:
    """Spark twin of ``temperature_plan_cte``: group ``rows`` by
    ``key`` and return (key, count_alias, target_docs, threshold) —
    a |keys|-row plan table meant to be broadcast back."""
    n = rows.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    w = n.select(
        key,
        "n",
        F.sqrt(F.col("n").cast("double")).alias("wt"),
        F.sum(F.sqrt(F.col("n").cast("double")))
        .over(W.orderBy(key).rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_wt"),
        F.sum("n")
        .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("total_n"),
    )
    return w.select(
        key,
        "n",
        "wt",
        "total_n",
        F.expr("MAX(cum_wt) OVER ()").alias("tot_wt"),
        F.expr(
            "CAST(FLOOR(total_n * wt / (MAX(cum_wt) OVER ())) AS BIGINT)"
        ).alias("target_docs"),
    ).selectExpr(
        key,
        f"n AS {count_alias}",
        "target_docs",
        f"{_temperature_threshold_sql(d)} AS threshold",
    )


_TMIX_D = 1_000_000  # integer Bernoulli denominator for the mix draw


def temperature_copies_spark(salt: str, d: int) -> str:
    """Spark SQL: per-document emission count toward the temperature
    target — integer base repetition plus an exact Bernoulli for the
    fractional remainder (columns ``target_docs``/``n_docs`` in scope).
    ONE definition shared by sample_temperature_repeat and the
    training-mix pipeline so the emission arithmetic can never fork
    (the r10 shared-helper discipline). The dominant language's base
    is 0, so the remainder draw IS the keep/drop downsample — running
    a separate keep-draw before this would SQUARE the keep
    probability, which is exactly the drift this helper prevents."""
    return f"""(target_docs DIV n_docs)
            + IF({_sha32(salt)} % {d}
                   < (target_docs % n_docs) * {d} DIV n_docs,
                 1, 0)"""


def temperature_copies_duck(salt: str, d: int, pre: str = "t.") -> str:
    """DuckDB spelling of ``temperature_copies_spark`` (``pre`` is the
    plan-table alias prefix for target_docs/n_docs)."""
    return f"""({pre}target_docs // {pre}n_docs)
           + CASE WHEN {_sha32_duck(salt)} % {d}
                       < ({pre}target_docs % {pre}n_docs) * {d} // {pre}n_docs
                  THEN 1 ELSE 0 END"""

_TMIX_ORACLE = f"""
WITH {temperature_plan_cte("documents", "lang", "n_docs", _TMIX_D)}, drawn AS (
  SELECT d.lang, d.doc_id, t.n_docs, t.target_docs, t.threshold,
         {_sha32_duck("'tmix:' || doc_id")} % {_TMIX_D} < t.threshold AS keep
  FROM documents d JOIN thr t USING (lang)
)
SELECT lang,
       CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(target_docs) AS BIGINT) AS target_docs,
       CAST(MAX(threshold) AS BIGINT) AS threshold,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
         AS id_checksum
FROM drawn
GROUP BY lang
ORDER BY lang
"""


@register(
    "sample_temperature_draw", oracle=_TMIX_ORACLE, tags=("training", "sample")
)
def sample_temperature_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the temperature mix: resample_temperature PLANS per-lang
    target counts (α = 0.5, targets ∝ n_lang^α — the multilingual
    pretraining-mix standard); this operator carries the plan through
    to an exact per-document draw. Each language's keep probability is
    its planned rate as an integer threshold,

        threshold = min(D, floor(D · total / (W · √n_docs))),  D = 10⁶
        keep(d)   = sha32('tmix:' || doc_id) mod D  <  threshold

    (W = Σ√n over languages), so the draw is a pure-integer Bernoulli —
    no float enters the keep decision, and both engines agree
    bit-for-bit. A language whose target REACHES its count (upsampled
    low-resource tail) clamps to keep-all here; the repetition factor
    beyond 1.0 is a downstream pack/repeat concern (pack_sequences),
    not a keep/drop draw.

    The plan arithmetic reuses resample_temperature's portability
    discipline: IEEE-exact sqrt weights and an ORDERED running sum so
    float additions associate identically in both engines; everything
    after the FLOOR is int64.

    Scale: the plan table is |langs| rows — broadcast back onto the
    corpus (no shuffle of document rows); the draw is a map-side hash +
    compare; one final |langs|-row aggregate. At 100 TB this is one
    corpus scan, same shape as sample_quality_weighted; per-row keep
    decisions are reproducible from doc_id alone, so shard retries and
    resumption need no state."""
    d = _t(spark, sf_dir)
    thr = temperature_plan_df(d, "lang", "n_docs", _TMIX_D)
    salted = "concat('tmix:', cast(doc_id AS string))"
    keep = F.expr(f"{_sha32(salted)} % {_TMIX_D} < threshold")
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(thr), "lang")
        .select("lang", "doc_id", "n_docs", "target_docs", "threshold", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.max("target_docs").cast("bigint").alias("target_docs"),
            F.max("threshold").cast("bigint").alias("threshold"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("id_checksum"),
        )
        .orderBy("lang")
    )


_TREP_ORACLE = f"""
WITH {temperature_plan_cte("documents", "lang", "n_docs", _TMIX_D)}, drawn AS (
  SELECT d.lang, d.doc_id, t.n_docs, t.target_docs,
         {temperature_copies_duck("'trep:' || doc_id", _TMIX_D)} AS n_copies
  FROM documents d JOIN thr t USING (lang)
), emitted AS (
  SELECT lang, doc_id, n_docs, target_docs,
         unnest(generate_series(1, CAST(n_copies AS INTEGER))) AS copy_no
  FROM drawn WHERE n_copies > 0
)
SELECT lang,
       CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(target_docs) AS BIGINT) AS target_docs,
       CAST(COUNT(*) AS BIGINT) AS n_emitted,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_source_docs,
       CAST(SUM(doc_id * copy_no) AS BIGINT) AS emission_checksum
FROM emitted
GROUP BY lang
ORDER BY lang
"""


@register(
    "sample_temperature_repeat", oracle=_TREP_ORACLE, tags=("training", "sample")
)
def sample_temperature_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLING half of the temperature mix — the case
    sample_temperature_draw clamps (a keep/drop draw cannot emit a
    document more than once): each document is REPEATED toward its
    language's alpha=0.5 target,

        copies(d) = floor(target/n)
                  + [ sha32('trep:'||doc_id) mod D
                        <  ((target mod n) · D) div n ]

    an integer base repetition plus an exact Bernoulli for the
    fractional remainder, so E[emitted] = target per language with a
    per-document deterministic draw (the dominant language's target is
    below its count, so its base is 0 and the remainder draw IS the
    downsample — one formula covers both directions; together with the
    draw operator this completes the mix: plan → keep/drop → repeat).
    Emission rows carry copy_no so downstream packing interleaves
    copies instead of clustering them; the checksum Σ doc_id·copy_no
    pins the exact emission multiset, not just counts.

    Scale: the plan broadcasts (shared temperature_plan_df helper);
    copies materialize via explode(sequence(1, n)) — output rows ∝ the
    TARGET corpus size, the irreducible cost of upsampling; no shuffle
    touches the exploded rows until the final |langs|-key aggregate
    (partial map-side combine)."""
    d = _t(spark, sf_dir)
    thr = temperature_plan_df(d, "lang", "n_docs", _TMIX_D)
    salted = "concat('trep:', cast(doc_id AS string))"
    drawn = d.select("doc_id", "lang").join(F.broadcast(thr), "lang").selectExpr(
        "lang",
        "doc_id",
        "n_docs",
        "target_docs",
        f"{temperature_copies_spark(salted, _TMIX_D)} AS n_copies",
    )
    emitted = drawn.filter("n_copies > 0").select(
        "lang",
        "doc_id",
        "n_docs",
        "target_docs",
        F.explode(F.expr("sequence(1, n_copies)")).alias("copy_no"),
    )
    return (
        emitted.groupBy("lang")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.max("target_docs").cast("bigint").alias("target_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_emitted"),
            F.countDistinct("doc_id").cast("bigint").alias("n_source_docs"),
            F.sum(F.col("doc_id") * F.col("copy_no"))
            .cast("bigint")
            .alias("emission_checksum"),
        )
        .orderBy("lang")
    )


_PBG_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens_raw,
         doc_id // {_BLOCK} AS block
  FROM documents
), r AS (
  SELECT doc_id, LEAST(tokens_raw, {_SEQ_LEN}) AS tokens,
         tokens_raw > {_SEQ_LEN} AS truncated, block,
         ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id) AS rn
  FROM t
), pk AS (
  SELECT block, rn, doc_id, tokens, truncated,
         CAST(0 AS BIGINT) AS bin_in_block,
         CAST(0 AS BIGINT) AS bin_off,
         tokens AS fill
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.block, r.rn, r.doc_id, r.tokens, r.truncated,
         CASE WHEN pk.fill + r.tokens <= {_SEQ_LEN}
              THEN pk.bin_in_block ELSE pk.bin_in_block + 1 END,
         CASE WHEN pk.fill + r.tokens <= {_SEQ_LEN}
              THEN pk.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN pk.fill + r.tokens <= {_SEQ_LEN}
              THEN pk.fill + r.tokens ELSE r.tokens END
  FROM pk JOIN r ON r.block = pk.block AND r.rn = pk.rn + 1
), bb AS (
  SELECT block, MAX(bin_in_block) + 1 AS nb FROM pk GROUP BY block
), base AS (
  SELECT block,
         COALESCE(SUM(nb) OVER (ORDER BY block
                                ROWS UNBOUNDED PRECEDING) - nb, 0) AS bin_base
  FROM bb
)
SELECT pk.doc_id, pk.tokens, pk.truncated,
       CAST(base.bin_base + pk.bin_in_block AS BIGINT) AS bin_id,
       CAST(pk.bin_off AS BIGINT) AS bin_off
FROM pk JOIN base USING (block)
ORDER BY pk.doc_id
"""


@register("pack_bins_greedy", oracle=_PBG_ORACLE, tags=("training", "pack"))
def pack_bins_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-STRADDLE sequence packing — the complement of pack_sequences'
    concat-and-chunk layout: each document lands whole inside exactly
    one {_SEQ_LEN}-token bin (documents longer than a bin truncate to
    one full bin, flagged), bins are filled greedily in doc_id order
    (next-fit: if the next document does not fit, the bin closes and a
    new one opens). This is the packing used when training masks
    cross-document attention — a document may never span two
    sequences, and the price is padding waste, which this layout pins
    per document (bin_id + bin_off reconstruct every pad gap).

    Distribution choice: greedy packing is inherently SEQUENTIAL (the
    state is the current bin's fill), so the corpus packs in
    independent {_BLOCK}-document blocks — bins never span blocks,
    making the pack embarrassingly parallel at the cost of at most one
    underfilled bin per block boundary versus a global sequential
    pass (bounded, documented waste — the same block-local trade
    pack_sequences makes for its prefix sum). Next-fit rather than
    best-fit-decreasing is deliberate: it is deterministic in reading
    order with no size sort, so the layout is reproducible from
    doc_id alone and streaming-appendable.

    Scale: one scan; the only data shuffle keys (block) for the
    per-block greedy (applyInPandas — the sequential loop touches
    ≤{_BLOCK} tiny (doc_id, tokens) pairs per group, never text); the
    global bin numbering reuses the bounded block-summary window +
    broadcast-back discipline. The DuckDB oracle replays the greedy
    exactly via a recursive CTE."""
    import pandas as pd

    d = _t(spark, sf_dir).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tokens_raw"),
    )
    d = d.select(
        "doc_id",
        F.least(F.col("tokens_raw"), F.lit(_SEQ_LEN)).alias("tokens"),
        (F.col("tokens_raw") > _SEQ_LEN).alias("truncated"),
        F.expr(f"doc_id div {_BLOCK}").alias("block"),
    )

    def pack_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        fill = _SEQ_LEN + 1  # force the first document to open bin 0
        b = -1
        bins, offs = [], []
        for t in pdf["tokens"]:
            if fill + t <= _SEQ_LEN:
                offs.append(fill)
                fill += t
            else:
                b += 1
                offs.append(0)
                fill = t
            bins.append(b)
        pdf["bin_in_block"] = pd.Series(bins, dtype="int64")
        pdf["bin_off"] = pd.Series(offs, dtype="int64")
        return pdf

    # materialize the kernel output once: bin numbering reads it twice
    # (per-doc rows + per-block bin counts), and without the truncation
    # the grouped kernel — scan, shuffle and all — executes twice
    # (plan-audited r11)
    packed = d.groupBy("block").applyInPandas(
        pack_block,
        "doc_id bigint, tokens bigint, truncated boolean, block bigint, "
        "bin_in_block bigint, bin_off bigint",
    ).localCheckpoint(eager=False)
    bins_per_block = packed.groupBy("block").agg(
        (F.max("bin_in_block") + 1).alias("nb")
    )
    base = exclusive_prefix(
        bins_per_block, ["block"], "nb", "bin_base"
    ).select("block", "bin_base")
    return (
        packed.join(F.broadcast(base), "block")
        .select(
            "doc_id",
            "tokens",
            "truncated",
            (F.col("bin_base") + F.col("bin_in_block"))
            .cast("bigint")
            .alias("bin_id"),
            "bin_off",
        )
        .orderBy("doc_id")
    )


# -- data-constrained epoch planning (balanced multilingual mixing) ----------
#
# Budget = 2× the corpus' total tokens, split UNIFORMLY across languages
# (balanced mixing); a language whose uniform share exceeds EPOCH_CAP
# epochs of its own data is capped (repeating data indefinitely stops
# helping — the public data-constrained-scaling result caps useful
# repetition at ~4 epochs; 2.5 here exercises both branches on this
# corpus at every SF) and its unfilled budget is redistributed to the
# uncapped languages proportional to their token counts in ONE
# water-filling step.
_BUDGET_MULT = 2  # budget = _BUDGET_MULT × total corpus tokens
_EPOCH_CAP_NUM, _EPOCH_CAP_DEN = 5, 2  # cap = 5/2 = 2.5 epochs, kept rational

# The water-filling redistribution divides by the uncapped languages'
# token pool with NO zero guard — that is safe only while
# _BUDGET_MULT < _EPOCH_CAP_NUM/_EPOCH_CAP_DEN: "every language capped"
# would mean cap·T < budget = _BUDGET_MULT·T, impossible under the
# inequality, so at least one language always stays uncapped. The
# invariant is load-bearing in BOTH engines (r13 driver advice —
# independently raising _BUDGET_MULT or lowering the cap would turn
# every extra_tokens into a silent NULL); fail at import, not with
# NULLs at plan time.
assert _BUDGET_MULT * _EPOCH_CAP_DEN < _EPOCH_CAP_NUM, (
    "mix_epoch_planner's zero-guard-free water-filling requires "
    "_BUDGET_MULT < _EPOCH_CAP_NUM/_EPOCH_CAP_DEN (an all-capped corpus "
    "must be impossible); add an explicit all-capped branch before "
    "weakening this."
)

_EPOCH_ORACLE = f"""
WITH t AS (
  SELECT lang,
         CAST(SUM(len(regexp_split_to_array(text, ' '))) AS BIGINT) AS src_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT lang, src_tokens,
         CAST(({_BUDGET_MULT} * SUM(src_tokens) OVER ()) // COUNT(*) OVER ()
              AS BIGINT) AS target_tokens
  FROM t
), capped AS (
  SELECT lang, src_tokens, target_tokens,
         target_tokens > ({_EPOCH_CAP_NUM} * src_tokens) // {_EPOCH_CAP_DEN}
           AS capped,
         CAST(LEAST(target_tokens,
               ({_EPOCH_CAP_NUM} * src_tokens) // {_EPOCH_CAP_DEN})
              AS BIGINT) AS realized_tokens
  FROM tot
), pool AS (
  SELECT lang, src_tokens, target_tokens, capped, realized_tokens,
         CAST(target_tokens - realized_tokens AS BIGINT) AS deficit_tokens,
         CAST(SUM(target_tokens - realized_tokens) OVER () AS BIGINT)
           AS leftover,
         CAST(SUM(CASE WHEN NOT capped THEN src_tokens ELSE 0 END) OVER ()
              AS BIGINT) AS uncapped_tokens
  FROM capped
)
SELECT lang, src_tokens, target_tokens, capped, realized_tokens,
       deficit_tokens,
       CAST(CASE WHEN capped THEN 0 ELSE FLOOR(
         leftover * (CAST(src_tokens AS DOUBLE) / uncapped_tokens)
       ) END AS BIGINT) AS extra_tokens,
       CAST(realized_tokens + CAST(CASE WHEN capped THEN 0 ELSE FLOOR(
         leftover * (CAST(src_tokens AS DOUBLE) / uncapped_tokens)
       ) END AS BIGINT) AS BIGINT) AS final_tokens,
       round((realized_tokens + CAST(CASE WHEN capped THEN 0 ELSE FLOOR(
         leftover * (CAST(src_tokens AS DOUBLE) / uncapped_tokens)
       ) END AS BIGINT)) / CAST(src_tokens AS DOUBLE), 6) AS final_epochs
FROM pool
ORDER BY lang
"""


@register("mix_epoch_planner", oracle=_EPOCH_ORACLE, tags=("training", "mix"))
def mix_epoch_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planner: split a token budget (2× corpus)
    uniformly across languages (balanced multilingual mixing), cap any
    language at 2.5 epochs of its own data (public data-constrained
    scaling: repetition stops paying after a few epochs), and
    redistribute the capped languages' unfilled budget to the uncapped
    ones proportional to size — one water-filling step, emitted as a
    per-language plan row (targets, caps, deficits, final epochs).
    ``sample_temperature_repeat`` executes plans of this shape; this op
    PRODUCES one under a hard budget. Reference has no analog.

    Exactness: every shared quantity (totals, targets, caps, deficits,
    leftover pool) is int64 arithmetic — order-free aggregates, no float
    accumulation; the only doubles are single IEEE ops (one division,
    one multiply, one floor) that reproduce bit-for-bit cross-engine.
    The cap is kept rational (5/2) so capping floors in integers.

    Scale: one corpus scan → |langs| rows; the two pool totals are
    single-row broadcast rollups over a 5-row relation (the repo's
    ledger pattern). The double-based redistribution deliberately
    avoids the int64 overflow a leftover×tokens product would hit at
    real corpus sizes (~1e13 × 1e13); planners emit advisory numbers,
    and the floor keeps the redistributed sum ≤ leftover (conservative,
    asserted in tests)."""
    d = _t(spark, sf_dir)
    t = d.groupBy("lang").agg(
        F.expr("cast(sum(size(split(text, ' '))) AS bigint) AS src_tokens")
    )
    totals = t.groupBy().agg(
        F.expr(
            f"cast({_BUDGET_MULT} * sum(src_tokens) div count(*) AS bigint)"
            " AS target_tokens"
        )
    )
    capped = (
        t.crossJoin(F.broadcast(totals))
        .selectExpr(
            "lang",
            "src_tokens",
            "target_tokens",
            f"target_tokens > ({_EPOCH_CAP_NUM} * src_tokens)"
            f" div {_EPOCH_CAP_DEN} AS capped",
            f"least(target_tokens, ({_EPOCH_CAP_NUM} * src_tokens)"
            f" div {_EPOCH_CAP_DEN}) AS realized_tokens",
        )
        .withColumn(
            "deficit_tokens", F.expr("target_tokens - realized_tokens")
        )
    )
    pool = capped.groupBy().agg(
        F.expr("sum(deficit_tokens) AS leftover"),
        F.expr(
            "sum(CASE WHEN NOT capped THEN src_tokens ELSE 0 END)"
            " AS uncapped_tokens"
        ),
    )
    extra = (
        "CAST(CASE WHEN capped THEN 0 ELSE FLOOR("
        "leftover * (CAST(src_tokens AS DOUBLE) / uncapped_tokens)"
        ") END AS BIGINT)"
    )
    return (
        capped.crossJoin(F.broadcast(pool))
        .selectExpr(
            "lang",
            "src_tokens",
            "target_tokens",
            "capped",
            "realized_tokens",
            "deficit_tokens",
            f"{extra} AS extra_tokens",
            f"realized_tokens + {extra} AS final_tokens",
            f"round((realized_tokens + {extra})"
            " / CAST(src_tokens AS DOUBLE), 6) AS final_epochs",
        )
        .orderBy("lang")
    )


# -- largest-remainder eval-budget allocation (Hamilton apportionment) -------
#
# Building a balanced eval set: a fixed document budget is apportioned
# across (source, lang) strata proportional to stratum size with the
# largest-remainder method — the standard exact apportionment (floor of
# the proportional quota everywhere, the leftover seats to the largest
# fractional remainders). All comparisons are INTEGER (remainder of
# E·n_i mod N), so the allocation is bit-exact in any engine and the
# rounding can never be inconsistent the way per-stratum float rounding
# is (Σ floor(E·n_i/N) < E, and WHICH strata get the +1 matters).
_EVAL_BUDGET = 100  # documents in the eval set

def _alloc_cte() -> str:
    """CTE chain ``s → q → r → a`` ending in ``a(source, lang, n_docs,
    alloc)`` — THE Hamilton apportionment, in exactly one place on the
    oracle side; consumed by the plan oracle and the builder oracle so
    the quota arithmetic cannot fork."""
    return f"""s AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, lang
), q AS (
  SELECT source, lang, n_docs,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
         CAST(({_EVAL_BUDGET} * n_docs) // SUM(n_docs) OVER () AS BIGINT)
           AS base_alloc,
         CAST(({_EVAL_BUDGET} * n_docs) % SUM(n_docs) OVER () AS BIGINT)
           AS remainder_num
  FROM s
), r AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (
           ORDER BY remainder_num DESC, source, lang) AS BIGINT) AS rem_rank,
         CAST({_EVAL_BUDGET} - SUM(base_alloc) OVER () AS BIGINT) AS n_extra
  FROM q
), a AS (
  SELECT source, lang, n_docs, base_alloc, remainder_num, rem_rank,
         CAST(base_alloc + CASE WHEN rem_rank <= n_extra THEN 1 ELSE 0 END
              AS BIGINT) AS alloc
  FROM r
)"""


_ALLOC_ORACLE = f"""
WITH {_alloc_cte()}
SELECT source, lang, n_docs, base_alloc, remainder_num, rem_rank, alloc
FROM a
ORDER BY source, lang
"""


def alloc_plan_df(d: DataFrame) -> DataFrame:
    """(source, lang, n_docs, base_alloc, remainder_num, rem_rank,
    alloc) — THE Hamilton apportionment on the Spark side, in exactly
    one place (the twin of :func:`_alloc_cte`); consumed by the plan op
    and the eval-set builder so the quota arithmetic cannot fork."""
    s = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = s.groupBy().agg(F.sum("n_docs").cast("bigint").alias("total_docs"))
    q = s.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "lang",
        "n_docs",
        f"cast(({_EVAL_BUDGET} * n_docs) div total_docs AS bigint)"
        " AS base_alloc",
        f"cast(({_EVAL_BUDGET} * n_docs) % total_docs AS bigint)"
        " AS remainder_num",
    )
    extra = q.groupBy().agg(
        (F.lit(_EVAL_BUDGET) - F.sum("base_alloc"))
        .cast("bigint")
        .alias("n_extra")
    )
    return (
        q.crossJoin(F.broadcast(extra))
        .withColumn(
            "rem_rank",
            F.row_number()
            .over(W.orderBy(F.desc("remainder_num"), "source", "lang"))
            .cast("bigint"),
        )
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "base_alloc",
            "remainder_num",
            "rem_rank",
            "cast(base_alloc + CASE WHEN rem_rank <= n_extra THEN 1 ELSE 0"
            " END AS bigint) AS alloc",
        )
    )




@register(
    "sample_proportional_allocation",
    oracle=_ALLOC_ORACLE,
    tags=("training", "sample", "audit"),
)
def sample_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed eval-set
    budget across (source, lang) strata: floor of each stratum's
    proportional quota, the leftover documents to the largest integer
    remainders (E·n mod N — no floats anywhere, so no engine can round
    a quota differently and the allocations always sum exactly to the
    budget). The allocation plan a balanced eval-set builder executes;
    complements ``mix_epoch_planner`` (training budget) on the eval
    side. Reference has no analog.

    Scale: one corpus scan → |sources|×|langs| strata rows; the total
    and the leftover count are single-row broadcast rollups; the
    remainder ranking is a window over the bounded strata relation
    (never the corpus). The stratum count is the only driver of the
    tail's cost at any corpus size."""
    return alloc_plan_df(_t(spark, sf_dir)).orderBy("source", "lang")


# -- length-bucketed batching waste audit ------------------------------------
#
# Inference/finetune batching pads every sequence in a batch to the
# batch max; bucketing sequences by length bounds that waste. Buckets
# are the fixed power-of-two ladder (integer CASE, no float log2 —
# LOG2 at exact powers is the classic cross-engine ulp trap). The
# ladder runs to 65536 — far past this corpus' max, and past any
# plausible single-document token count short of book-length outliers
# — because a doc beyond the top rung falls into ONE catch-all bucket
# whose pad arithmetic treats an unbounded length range as one
# batchable group (r13 driver advice: the fixture corpus never
# exercised that row, so it reported silently). The catch-all that
# remains is labeled with an explicit ``overflow`` flag rather than
# only the -1 sentinel, and tests/test_llm_ops.py covers it with a
# synthetic beyond-ladder corpus.
_LEN_BUCKETS = (
    16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536,
)


def _bucket_case(tok: str) -> str:
    arms = " ".join(
        f"WHEN {tok} <= {b} THEN {b}" for b in _LEN_BUCKETS
    )
    return f"CASE {arms} ELSE -1 END"


_LENBUCKET_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), b AS (
  SELECT doc_id, tokens,
         CAST({_bucket_case('tokens')} AS BIGINT) AS bucket,
         CAST(MAX(tokens) OVER () AS BIGINT) AS corpus_max
  FROM t
)
SELECT bucket,
       bucket = -1 AS overflow,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(tokens) AS BIGINT) AS bucket_max,
       CAST(COUNT(*) * MAX(tokens) - SUM(tokens) AS BIGINT) AS bucket_pad,
       CAST(COUNT(*) * MAX(corpus_max) - SUM(tokens) AS BIGINT) AS naive_pad,
       round((COUNT(*) * MAX(tokens) - SUM(tokens))
             / CAST(COUNT(*) * MAX(corpus_max) - SUM(tokens) AS DOUBLE), 6)
         AS pad_ratio
FROM b
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "pack_length_buckets",
    oracle=_LENBUCKET_ORACLE,
    tags=("training", "pack", "audit"),
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign every document to the
    smallest power-of-two length bucket that holds it and report, per
    bucket, the padding tokens bucketed batching pays (every doc padded
    to the bucket's OBSERVED max — batches form within a bucket, so
    that is the real pad target) versus naive batching (pad everything
    to the corpus max) —
    the serving/finetune cost question "is length bucketing worth it
    on this corpus". Buckets are an integer CASE ladder, NOT
    ``ceil(log2())`` — float log at exact powers of two is a
    cross-engine ulp trap; the ladder is exact. Complements
    ``pack_seqlen_sweep`` (which audits the concat-and-chunk layout;
    this audits the pad-to-bucket layout). Reference has no analog.

    Scale: one corpus scan to (doc, tokens); the corpus max is a
    single-row rollup (window over nothing here is fine at |docs| rows
    map-side — Spark computes it as one scalar exchange); the rollup
    is |buckets| rows. The only division is one double op per bucket."""
    d = _t(spark, sf_dir)
    t = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("tokens")
    )
    return length_bucket_audit(t)


def length_bucket_audit(t: DataFrame) -> DataFrame:
    """The bucket/pad rollup over a (doc_id, tokens) relation —
    extracted so the overflow path (docs beyond the ladder's top rung,
    absent from the fixture corpus) is unit-testable on synthetic
    lengths (r13 driver advice)."""
    cmax = t.groupBy().agg(F.max("tokens").cast("bigint").alias("corpus_max"))
    b = t.crossJoin(F.broadcast(cmax)).selectExpr(
        "doc_id",
        "tokens",
        f"cast({_bucket_case('tokens')} AS bigint) AS bucket",
        "corpus_max",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("sum_tokens"),
            F.max("tokens").cast("bigint").alias("bucket_max"),
            (F.count(F.lit(1)) * F.max("tokens") - F.sum("tokens"))
            .cast("bigint")
            .alias("bucket_pad"),
            (F.count(F.lit(1)) * F.max("corpus_max") - F.sum("tokens"))
            .cast("bigint")
            .alias("naive_pad"),
            F.round(
                (F.count(F.lit(1)) * F.max("tokens") - F.sum("tokens"))
                / (
                    F.count(F.lit(1)) * F.max("corpus_max") - F.sum("tokens")
                ).cast("double"),
                6,
            ).alias("pad_ratio"),
        )
        .select(
            "bucket",
            (F.col("bucket") == -1).alias("overflow"),
            "n_docs",
            "sum_tokens",
            "bucket_max",
            "bucket_pad",
            "naive_pad",
            "pad_ratio",
        )
        .orderBy("bucket")
    )


# -- export shard planning (output-file layout) ------------------------------
#
# Writing a curated corpus: output files should hold a bounded token
# budget each (too-small files drown the namenode/manifest, too-large
# files break downstream loaders). Assign every document to the shard
# whose token range contains its start offset in doc_id order — the
# write-side twin of warehouse_compaction_plan (which plans input
# compaction).
_SHARD_TOKENS = 4096  # token budget per output shard


_SHARD_PLAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), c AS (
  SELECT doc_id, tokens,
         CAST(SUM(tokens) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - tokens AS BIGINT)
           AS start_off
  FROM t
)
SELECT CAST(start_off // {_SHARD_TOKENS} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM c
GROUP BY 1
ORDER BY shard_id
"""


@register(
    "export_shard_plan",
    oracle=_SHARD_PLAN_ORACLE,
    tags=("training", "sink", "audit"),
)
def export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard layout plan for exporting a curated corpus: documents
    are assigned (in doc_id order) to fixed token-budget shards by their
    global start offset, and the plan reports each shard's membership
    (doc span, id checksum) and realized size — what a writer turns into
    one output file per shard via repartitionByRange. The write-side
    twin of ``warehouse_compaction_plan``. Reference analog: none (its
    sink is a Go channel, kinesumer.go:97-102).

    Scale: the offsets come from the shared TWO-PASS distributed prefix
    sum (``block_running_offset`` — per-block totals, bounded block
    relation window, broadcast back; identical machinery to
    pack_sequences, so the offset arithmetic cannot fork); the oracle
    replays the plain global-window form. One corpus scan + one
    |shards|-row aggregate; a doc whose span crosses a shard boundary
    stays in its starting shard, so realized sizes wobble around the
    budget instead of splitting documents (the loader-friendly
    choice)."""
    d = _t(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("tokens")
    )
    d = d.withColumn("block", F.expr(f"doc_id div {_BLOCK}")).localCheckpoint(
        eager=False
    )
    return (
        block_running_offset(d, "tokens", "doc_id", ["block"], "start_off")
        .selectExpr(
            f"cast(start_off div {_SHARD_TOKENS} AS bigint) AS shard_id",
            "doc_id",
            "tokens",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )


# -- eval-set builder: execute the apportionment ----------------------------

_EVAL_SALT_SPARK = "concat('eval:', doc_id)"
_EVAL_SALT_DUCK = "'eval:' || doc_id"

_EVAL_BUILD_ORACLE = f"""
WITH {_alloc_cte()}, ranked AS (
  SELECT d.source, d.lang, d.doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY d.source, d.lang
           ORDER BY {_sha32_duck(_EVAL_SALT_DUCK)}, d.doc_id) AS pick_rank
  FROM documents d
), sel AS (
  SELECT rk.source, rk.lang, rk.doc_id
  FROM ranked rk JOIN a ON a.source = rk.source AND a.lang = rk.lang
  WHERE rk.pick_rank <= a.alloc
)
SELECT a.source, a.lang, a.n_docs, a.alloc,
       CAST(COALESCE(COUNT(sel.doc_id), 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(SUM(sel.doc_id), 0) AS BIGINT) AS sel_id_checksum
FROM a LEFT JOIN sel ON sel.source = a.source AND sel.lang = a.lang
GROUP BY a.source, a.lang, a.n_docs, a.alloc
ORDER BY a.source, a.lang
"""


@register(
    "sample_eval_set_build",
    oracle=_EVAL_BUILD_ORACLE,
    tags=("training", "sample"),
)
def sample_eval_set_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the Hamilton apportionment: select exactly ``alloc``
    documents per (source, lang) stratum, chosen by rank over a salted
    content-free hash (sha256 of 'eval:'||doc_id — reproducible across
    engines, runs, and repartitionings; never rand()), and emit the
    per-stratum membership ledger (count + id checksum) the driver
    hash-pins. ``sample_proportional_allocation`` is the plan; this is
    the selection — together they build a balanced eval set of exactly
    the budget size. Same hash-rank family as ``sample_stratified_hash``
    (text.py), which draws a FIXED k per lang; here the per-stratum k is
    the apportioned quota, so the total is exactly the budget.

    Scale: the rank is a per-stratum window (shuffle on (source, lang),
    linearithmic within strata). At 100 TB with small eval budgets the
    right refinement is a hash-threshold PRE-FILTER (keep hash <
    k·alloc/n quantile estimate, then rank survivors) so the sort
    touches a sliver of each stratum; the selection semantics — and
    this ledger — are unchanged by that refinement, which is why the
    rank form is the registered oracle shape. Allocation arithmetic is
    :func:`alloc_plan_df` — the same relation the plan op registers."""
    d = _t(spark, sf_dir)
    alloc = alloc_plan_df(d).select("source", "lang", "n_docs", "alloc")
    ranked = d.select(
        "source",
        "lang",
        "doc_id",
        F.row_number()
        .over(
            W.partitionBy("source", "lang").orderBy(
                F.expr(_sha32(_EVAL_SALT_SPARK)), "doc_id"
            )
        )
        .alias("pick_rank"),
    )
    sel = ranked.join(F.broadcast(alloc.select("source", "lang", "alloc")),
                      ["source", "lang"]).filter(
        F.col("pick_rank") <= F.col("alloc")
    )
    sel_agg = sel.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.sum("doc_id").cast("bigint").alias("sel_id_checksum"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        alloc.join(sel_agg, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "n_docs",
            "alloc",
            F.coalesce("n_selected", zero).alias("n_selected"),
            F.coalesce("sel_id_checksum", zero).alias("sel_id_checksum"),
        )
        .orderBy("source", "lang")
    )


# -- split repair: move leaked eval docs back to train -----------------------

def _split_repair_oracle() -> str:
    from kinesumer_spark.operators.dedup import _minhash_cte

    return f"""
WITH RECURSIVE {_minhash_cte()}, sp AS (
  SELECT doc_id, {_split_case(_SPLIT_EXPR_DUCK)} AS split FROM documents
), vp AS (
  SELECT p.doc_a, p.doc_b
  FROM p JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
  WHERE round(shared / CAST(na + nb - shared AS DOUBLE), 6) >= 0.5
), hsh AS (
  SELECT doc_id, sha256(text) AS ch FROM documents
), hp AS (
  SELECT MIN(doc_id) OVER (PARTITION BY ch) AS doc_a, doc_id AS doc_b
  FROM hsh
), dup_edges AS (
  SELECT doc_a, doc_b FROM vp
  UNION SELECT doc_a, doc_b FROM hp WHERE doc_a <> doc_b
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_edges
  UNION ALL SELECT doc_b, doc_a FROM dup_edges
), walk AS (
  SELECT DISTINCT src AS doc_id, src AS reach FROM edges
  UNION
  SELECT wk.doc_id, e2.dst FROM walk wk JOIN edges e2 ON e2.src = wk.reach
), labels AS (
  SELECT doc_id, MIN(reach) AS label FROM walk GROUP BY doc_id
), alldocs AS (
  SELECT sp.doc_id, sp.split, COALESCE(l.label, sp.doc_id) AS label
  FROM sp LEFT JOIN labels l ON l.doc_id = sp.doc_id
), rep AS (
  SELECT doc_id, split,
         split <> 'train' AND label IN (
           SELECT DISTINCT label FROM alldocs WHERE split = 'train'
         ) AS moved
  FROM alldocs
)
SELECT CASE WHEN moved THEN 'train' ELSE split END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM rep
GROUP BY 1
ORDER BY split
"""


@register(
    "split_repair_leakage",
    oracle=_split_repair_oracle(),
    tags=("training", "dedup", "audit", "iterative"),
)
def split_repair_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPAIR the contamination ``split_leakage_audit`` reports — by
    CLOSURE, not by direct leaks alone: every eval document whose
    duplicate-graph component (exact sha256 clusters ∪ verified
    near-dup pairs) touches train moves to train, and the repaired
    per-split ledger (counts, moved-in, id checksums) is emitted. The
    audit→remediation pair mirrors ``text_decontaminate_spans`` →
    ``text_decontaminate_excise``.

    Why closure: moving only DIRECTLY-leaked docs can CREATE leakage —
    an eval doc whose sole near-dup partner was another eval doc starts
    leaking the moment that partner moves to train (chain case). Moving
    the whole train-touching component is provably sufficient in one
    pass: any partner of a remaining eval doc shares its component, and
    a component with any train member was moved wholesale — pinned by a
    test that re-probes both tiers against an independently-computed
    union-find closure.

    Scale: the audit's cost shape + ``connected_components`` over the
    dup-edge graph (alternating-star contraction, O(log n) rounds over
    |edges| — the dedup_clusters_lsh machinery reused verbatim); the
    oracle closes the same edges with a recursive CTE."""
    from kinesumer_spark.operators.dedup import (
        connected_components,
        minhash_pairs_df,
    )

    # r18: the single-materialization-point retry (see
    # split_leakage_audit) read 0.87x idle here — rejected like its twin.
    d = _t(spark, sf_dir)
    sp = d.selectExpr(
        "doc_id", f"{_split_case(_SPLIT_EXPR_SPARK)} AS split"
    ).localCheckpoint(eager=False)

    hashed = d.selectExpr("doc_id", "sha2(cast(text AS binary), 256) AS ch")
    hp = hashed.select(
        F.min("doc_id").over(W.partitionBy("ch")).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
    ).filter("doc_a <> doc_b")
    dup_edges = (
        minhash_pairs_df(d).select("doc_a", "doc_b").unionByName(hp).distinct()
    )
    labels, _ = connected_components(dup_edges)

    alldocs = sp.join(labels, "doc_id", "left").withColumn(
        "label", F.coalesce("label", "doc_id")
    )
    train_labels = (
        alldocs.filter("split = 'train'").select("label").distinct()
    )
    flagged = alldocs.join(
        train_labels.withColumn("has_train", F.lit(True)), "label", "left"
    ).selectExpr(
        "doc_id",
        "split",
        "split <> 'train' AND coalesce(has_train, false) AS moved",
    )
    return (
        flagged.selectExpr(
            "CASE WHEN moved THEN 'train' ELSE split END AS split",
            "doc_id",
            "moved",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN moved THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_moved_in"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("split")
    )

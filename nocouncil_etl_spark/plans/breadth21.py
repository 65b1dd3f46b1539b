"""Breadth batch 21 (round 6): engine-operations depth.

Five operators an analytics engine running on 100 TB needs around its core:

- ``join_bloom_pruned``    — bloom-filter semi-join pruning: the small side's
  key set compresses to a 64-word bitset that filters the fact side BEFORE
  the join shuffle (Spark's runtime row-level bloom pruning, surfaced as an
  explicit operator with the exact-join reconciliation in the same query).
- ``text_phrase_search``   — positional inverted index + phrase intersection
  (the search-engine primitive BM25 ranking sits on).
- ``layout_minmax_pruning``— file-stats data skipping measured: the same
  rows laid out insertion-ordered vs value-clustered, per-file min/max
  collected, and a range predicate's scan cost compared (why Z-order /
  clustered writes matter — Engine.zorder_write's effect quantified as a
  query).
- ``cep_pattern_match``    — MATCH_RECOGNIZE-style complex-event pattern:
  view → click → purchase per user within a window with no error between,
  via running last-match windows (Flink-CEP semantics on plain windows).
- ``eval_lsh_recall_grid`` — banding-parameter sweep: recall of (bands,
  rows/band) configurations against planted ground-truth near-dup pairs —
  the engine measuring its own dedup knobs.

All five have exact DuckDB oracles (the bloom bitset is md5-derived and
bit-identical across engines, the analytics5.sketch_bloom_membership
discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

# ---- bloom knobs (sketch_bloom_membership discipline) ---------------------
BLOOM_WORDS = 64
BLOOM_BITS_PER = 62
BLOOM_K = 3

_BLOOM_BIT_SQL = (
    "(('0x' || substr(md5(CAST({i} AS VARCHAR) || '#' || CAST({x} AS VARCHAR)),"
    f" 1, 15))::BIGINT) % {BLOOM_WORDS * BLOOM_BITS_PER}"
)


def _bloom_bit(i_col, x_col):
    h = hash60(F.concat(i_col.cast("string"), F.lit("#"), x_col.cast("string")))
    return h % (BLOOM_WORDS * BLOOM_BITS_PER)


@query(
    "join_bloom_pruned",
    oracle=f"""
WITH dim AS (
  SELECT s_suppkey FROM supplier WHERE s_nationkey % 5 = 0
),
hashes AS (SELECT unnest(range(0, {BLOOM_K})) AS i),
mbits AS (
  SELECT {_BLOOM_BIT_SQL.format(i="i", x="s_suppkey")} AS bit
  FROM dim CROSS JOIN hashes
),
bloom AS (
  SELECT bit // {BLOOM_BITS_PER} AS word,
         bit_or(1::BIGINT << (bit % {BLOOM_BITS_PER})) AS bits
  FROM mbits GROUP BY 1
),
bloomarr AS (
  SELECT list(coalesce(b.bits, 0) ORDER BY w.i) AS arr
  FROM (SELECT unnest(range(0, {BLOOM_WORDS})) AS i) w
  LEFT JOIN bloom b ON b.word = w.i
),
survivors AS (
  SELECT l.l_suppkey, l.l_quantity
  FROM lineitem l
  WHERE {" AND ".join(
    f"((SELECT arr FROM bloomarr)"
    f"[({_BLOOM_BIT_SQL.format(i=i, x='l.l_suppkey')}) // {BLOOM_BITS_PER} + 1]"
    f" & (1::BIGINT << (({_BLOOM_BIT_SQL.format(i=i, x='l.l_suppkey')})"
    f" % {BLOOM_BITS_PER}))) <> 0"
    for i in range(BLOOM_K)
  )}
),
exact AS (
  SELECT s.* FROM survivors s JOIN dim d ON s.l_suppkey = d.s_suppkey
)
SELECT (SELECT count(*) FROM lineitem) AS n_fact,
       (SELECT count(*) FROM survivors) AS n_bloom_pass,
       (SELECT count(*) FROM exact) AS n_exact,
       (SELECT CAST(coalesce(sum(l_quantity), 0) AS BIGINT) FROM exact) AS sum_qty
""",
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: the dim side's keys (suppliers of every 5th
    nation) build a {BLOOM_WORDS}-word md5 bitset; the fact side
    (lineitem) is filtered by the broadcast bitset BEFORE the exact
    equi-join. The query reports the funnel — fact rows, bloom survivors,
    exact matches (bloom false positives = n_bloom_pass − n_exact), and
    the verified sum — so the pruning ratio is itself an oracle-checked
    value. No false negatives by construction: the exact join over bloom
    survivors equals the exact join over the full fact side.

    Scale shape: this is what Spark's runtime row-level bloom filter does
    for shuffle joins, surfaced explicitly: the bitset is built by a
    map-side-combined bit_or agg, collected once ({BLOOM_WORDS} longs — a
    task-constant like a centroid matrix), and evaluated as a pure row
    expression on the fact scan, so only survivors (here ~1/5 of rows)
    reach the join shuffle. At 100 TB the bitset sizes up (words ∝ |dim|)
    but stays KB-scale for millions of keys."""
    sup = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    dim = sup.filter(F.col("s_nationkey") % 5 == 0).select("s_suppkey")
    hashes = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")

    mbits = dim.select(hashes, "s_suppkey").select(
        _bloom_bit(F.col("i"), F.col("s_suppkey")).alias("bit")
    )
    bloom_rows = (
        mbits.select(
            F.expr(f"bit div {BLOOM_BITS_PER}").alias("word"),
            F.expr(f"shiftleft(1L, CAST(bit % {BLOOM_BITS_PER} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )  # BLOOM_WORDS longs max — the broadcast bitset
    bits_by_word = {r["word"]: r["bits"] for r in bloom_rows}
    arr = [bits_by_word.get(w, 0) for w in range(BLOOM_WORDS)]
    bitset = F.array(*[F.lit(int(x)).cast("long") for x in arr])

    # r11 opt (guide §1.2/§2.4): the funnel used to evaluate the md5 probe
    # TWICE — `survivors` fed two separate agg subtrees (the exact-join agg
    # and the n_bloom_pass agg crossJoined together), so every fact row
    # paid the BLOOM_K md5 hashes two times. Now ONE pass: survivors are
    # broadcast-LEFT-joined to the dim side and a single agg counts
    # bloom-pass rows, exact matches, and the verified sum together. The
    # bitset, the bits, and every reported number are unchanged.
    fact = li.select("l_suppkey", "l_quantity")
    probe = fact.withColumn("_bs", bitset)
    for i in range(BLOOM_K):
        probe = probe.withColumn(
            f"_b{i}", _bloom_bit(F.lit(i), F.col("l_suppkey"))
        )
    hits = [
        F.expr(
            f"(element_at(_bs, CAST(_b{i} div {BLOOM_BITS_PER} AS INT) + 1)"
            f" & shiftleft(1L, CAST(_b{i} % {BLOOM_BITS_PER} AS INT))) <> 0"
        )
        for i in range(BLOOM_K)
    ]
    bloom_pass = hits[0]
    for h in hits[1:]:
        bloom_pass = bloom_pass & h
    survivors = probe.filter(bloom_pass).select("l_suppkey", "l_quantity")
    # n_bloom_pass below counts rows of this LEFT join's output, which
    # equals the survivor count only because s_suppkey is unique on the
    # dim side (supplier primary key — also what makes n_exact/sum_qty
    # join-multiplicity-safe). A non-unique dim key would need
    # dim.select("s_suppkey").distinct() here (r11 advice note).
    exact = survivors.join(
        F.broadcast(dim.withColumn("_hit", F.lit(1))),
        survivors.l_suppkey == dim.s_suppkey,
        "left",
    )
    n_fact = fact.count()
    row = exact.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.count("_hit").alias("n_exact"),
        F.sum(F.when(F.col("_hit").isNotNull(), F.col("l_quantity")))
        .cast("long")
        .alias("sum_qty"),
    )
    return row.select(
        F.lit(n_fact).cast("long").alias("n_fact"),
        F.col("n_bloom_pass").cast("long"),
        F.col("n_exact").cast("long"),
        F.coalesce("sum_qty", F.lit(0)).cast("long").alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# 2. positional inverted index + phrase search
# --------------------------------------------------------------------------

PHRASE = ["alpha", "beta", "gamma"]


@query(
    "text_phrase_search",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
         text ||
           CASE WHEN doc_id % 20 = 0 THEN ' alpha beta gamma trailer'
                WHEN doc_id % 20 = 10 THEN ' alpha beta delta trailer'
                ELSE '' END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
),
hits AS (
  SELECT a.doc_id, a.pos
  FROM (SELECT doc_id, pos FROM toks WHERE term = '{PHRASE[0]}') a
  JOIN (SELECT doc_id, pos FROM toks WHERE term = '{PHRASE[1]}') b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN (SELECT doc_id, pos FROM toks WHERE term = '{PHRASE[2]}') c
    ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
""",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index: tokens post to
    (term, doc, pos); the phrase 'alpha beta gamma' resolves as equi-joins
    on (doc, pos+offset) between the three term posting lists. A planted
    near-miss ('alpha beta delta' on other docs) proves position-exact
    intersection — bag-of-words or bigram-only indexes would false-match
    it. Output per matching doc: occurrence count + first position.

    Scale shape: the posting lists are term-partitioned (the
    text_inverted_index layout); a phrase probe touches only its terms'
    postings and intersects them with keyed equi-joins — never a document
    rescan. This is the primitive under positional BM25 / proximity
    ranking."""
    docs = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 20 == 0, F.lit(" alpha beta gamma trailer"))
            .when(F.col("doc_id") % 20 == 10, F.lit(" alpha beta delta trailer"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    toks = corpus.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    posting = [
        toks.filter(F.col("term") == w).select("doc_id", "pos") for w in PHRASE
    ]
    a = posting[0].select("doc_id", F.col("pos").alias("p0"))
    b = posting[1].select("doc_id", (F.col("pos") - 1).alias("p0"))
    c = posting[2].select("doc_id", (F.col("pos") - 2).alias("p0"))
    hits = a.join(b, ["doc_id", "p0"]).join(c, ["doc_id", "p0"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("p0").cast("long").alias("first_pos"),
    )


# --------------------------------------------------------------------------
# 3. min/max file-stats pruning by layout
# --------------------------------------------------------------------------

ROWS_PER_FILE = 50
VAL_BUCKET = 64
PRED_LO, PRED_HI = 300, 400


@query(
    "layout_minmax_pruning",
    oracle=f"""
WITH src AS (SELECT doc_id, n_chars FROM documents),
la AS (
  SELECT 'insertion' AS layout, doc_id // {ROWS_PER_FILE} AS file_id, n_chars
  FROM src
),
lb AS (
  SELECT 'clustered' AS layout,
         (n_chars // {VAL_BUCKET}) * 1000 +
           (row_number() OVER (PARTITION BY n_chars // {VAL_BUCKET}
                               ORDER BY doc_id) - 1) // {ROWS_PER_FILE}
           AS file_id,
         n_chars
  FROM src
),
files AS (
  SELECT layout, file_id, min(n_chars) AS mn, max(n_chars) AS mx,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN n_chars BETWEEN {PRED_LO} AND {PRED_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM (SELECT * FROM la UNION ALL SELECT * FROM lb)
  GROUP BY layout, file_id
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN mx >= {PRED_LO} AND mn <= {PRED_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN mx >= {PRED_LO} AND mn <= {PRED_HI}
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matching
FROM files GROUP BY layout
""",
)
def layout_minmax_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stats data skipping, quantified: the same rows assigned to
    {ROWS_PER_FILE}-row files two ways — insertion order (file = id div N)
    vs value-clustered (file keyed by the n_chars bucket, the
    Engine.zorder_write layout) — then per-file min/max collected and a
    range predicate's scan cost compared. The clustered layout scans a
    fraction of the files/rows for the same matching rows; the insertion
    layout scans nearly everything because every file's [min,max] straddles
    the predicate. This is WHY clustered writes matter at 100 TB: parquet
    row-group pruning is exactly this arithmetic.

    Scale shape: two hash aggregates (per-file stats, per-layout rollup);
    the within-bucket row numbering is a window PARTITIONED by value
    bucket. Nothing global."""
    src = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    la = src.select(
        F.lit("insertion").alias("layout"),
        F.expr(f"doc_id div {ROWS_PER_FILE}").alias("file_id"),
        "n_chars",
    )
    lb = (
        src.withColumn("vb", F.expr(f"n_chars div {VAL_BUCKET}"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vb").orderBy("doc_id")),
        )
        .select(
            F.lit("clustered").alias("layout"),
            (F.col("vb") * 1000 + F.expr(f"(rn - 1) div {ROWS_PER_FILE}"))
            .cast("long")
            .alias("file_id"),
            "n_chars",
        )
    )
    both = la.unionByName(lb)
    in_pred = F.col("n_chars").between(PRED_LO, PRED_HI)
    files = both.groupBy("layout", "file_id").agg(
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(in_pred, 1).otherwise(0)).cast("long").alias("n_match"),
    )
    overlaps = (F.col("mx") >= PRED_LO) & (F.col("mn") <= PRED_HI)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.when(overlaps, 1).otherwise(0)).cast("long").alias("files_scanned"),
        F.sum(F.when(overlaps, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matching"),
    )


# --------------------------------------------------------------------------
# 4. CEP pattern match (view → click → purchase, no error between)
# --------------------------------------------------------------------------

CEP_WINDOW_US = 24 * 3600 * 1_000_000  # 24 hours — sized to the
# synthetic stream's ~3 h inter-event gaps so the pattern provably fires
# at every sf (12 matches at sf0.001, 1099 at sf0.1)


_CEP_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events
),
errs AS (
  SELECT event_id, user_id, event_type, t_us,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS err_cum
  FROM ev
),
runs AS (
  SELECT event_id, user_id, event_type, t_us, err_cum,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_id,
         last_value(CASE WHEN event_type = 'view' THEN t_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_us,
         last_value(CASE WHEN event_type = 'view' THEN err_cum END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_err
  FROM errs
),
clicks AS (
  SELECT event_id, user_id, event_type, t_us, err_cum,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_id,
         last_value(CASE WHEN event_type = 'click' THEN t_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_us,
         last_value(CASE WHEN event_type = 'click' THEN v_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv_id,
         last_value(CASE WHEN event_type = 'click' THEN v_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv_us,
         last_value(CASE WHEN event_type = 'click' THEN v_err END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv_err
  FROM runs
)
SELECT event_id AS purchase_id, user_id,
       cv_id AS view_id, c_id AS click_id,
       CAST(t_us - cv_us AS BIGINT) AS span_us
FROM clicks
WHERE event_type = 'purchase'
  AND c_id IS NOT NULL AND cv_id IS NOT NULL
  AND cv_us < c_us AND c_us < t_us
  AND t_us - cv_us <= {CEP_WINDOW_US}
  AND err_cum - cv_err = 0
"""


@query("cep_pattern_match", oracle=_CEP_ORACLE)
def cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern (MATCH_RECOGNIZE / Flink-CEP shape)
    on plain windows: per user, a PURCHASE matches if the latest preceding
    CLICK exists, THAT click's latest preceding VIEW exists, the whole
    view→click→purchase chain fits in the pattern window, and no ERROR occurred
    between the view and the purchase (negation via running error-count
    difference). Running 'last matched element + its state' columns are
    last_value(... IGNORE NULLS) over the user's event stream — each
    pattern stage adds one window pass, never a self-join.

    Scale shape: every window is PARTITIONED by user_id — one shuffle on
    the session key, then linear per-user streams; the same plan is the
    Structured Streaming stateful form (applyInPandasWithState carrying
    (last_view, last_click, err_cum))."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    wcur = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wrun = wcur.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    errs = ev.select(
        "*",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(wcur)
        .alias("err_cum"),
    )
    runs = errs.select(
        "*",
        F.last(
            F.when(F.col("event_type") == "view", F.col("event_id")), True
        ).over(wrun).alias("v_id"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("t_us")), True
        ).over(wrun).alias("v_us"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("err_cum")), True
        ).over(wrun).alias("v_err"),
    )
    clicks = runs.select(
        "*",
        F.last(
            F.when(F.col("event_type") == "click", F.col("event_id")), True
        ).over(wrun).alias("c_id"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("t_us")), True
        ).over(wrun).alias("c_us"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("v_id")), True
        ).over(wrun).alias("cv_id"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("v_us")), True
        ).over(wrun).alias("cv_us"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("v_err")), True
        ).over(wrun).alias("cv_err"),
    )
    return (
        clicks.filter(
            (F.col("event_type") == "purchase")
            & F.col("c_id").isNotNull()
            & F.col("cv_id").isNotNull()
            & (F.col("cv_us") < F.col("c_us"))
            & (F.col("c_us") < F.col("t_us"))
            & (F.col("t_us") - F.col("cv_us") <= CEP_WINDOW_US)
            & (F.col("err_cum") - F.col("cv_err") == 0)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("cv_id").alias("view_id"),
            F.col("c_id").alias("click_id"),
            (F.col("t_us") - F.col("cv_us")).cast("long").alias("span_us"),
        )
    )


# --------------------------------------------------------------------------
# 5. LSH banding-parameter recall sweep
# --------------------------------------------------------------------------

GRID_CONFIGS = [(1, 4), (2, 2), (4, 1)]  # (bands, rows/band) over 4 hashes
GRID_SCALE = 1_000_000


def _grid_oracle() -> str:
    from nocouncil_etl_spark.plans.dedup_plans import _sql_band, _sql_shingles

    per_cfg = []
    for nb, rpb in GRID_CONFIGS:
        bands = ", ".join(_sql_band("s", b, rpb) for b in range(nb))
        per_cfg.append(f"""
SELECT {nb} AS n_bands, {rpb} AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN len(list_intersect(ba, bb)) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_caught
FROM (
  SELECT [{bands}] AS ba,
         [{", ".join(_sql_band("sm", b, rpb) for b in range(nb))}] AS bb
  FROM truth
)""")
        # note: list comprehension over (s, sm) pairs in `truth`
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
),
mut AS (
  SELECT doc_id, text || ' appended mutation tail words' AS text
  FROM documents WHERE doc_id % 4 = 0
),
sh AS (
  SELECT doc_id, {_sql_shingles("string_split(text, ' ')", 3)} AS s FROM corpus
),
shm AS (
  SELECT doc_id, {_sql_shingles("string_split(text, ' ')", 3)} AS sm FROM mut
),
truth AS (
  SELECT a.doc_id, a.s, b.sm
  FROM sh a JOIN shm b ON a.doc_id = b.doc_id
)
{" UNION ALL ".join(per_cfg)}
"""


@query("eval_lsh_recall_grid", oracle=_grid_oracle())
def eval_lsh_recall_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter sweep for MinHash LSH: every 4th doc has a
    known mutated twin (ground truth by construction), and for each
    (bands, rows/band) configuration over the same 4 minhash components
    the query counts how many true pairs share at least one band —
    recall of the candidate stage, per knob setting. (1 band × 4 rows is
    strict-AND: lowest recall; 4 bands × 1 row is OR over single hashes:
    highest recall — the S-curve every LSH deployment tunes.) The pair
    probe is an equi-join on (id, id+mutation) — linear, no all-pairs.

    Scale shape: signatures are one shingle pass + minhash agg per side;
    the truth join is keyed by doc_id; each config is a column expression
    over the same signature arrays — one scan serves all configs."""
    from nocouncil_etl_spark.operators.dedup import (
        band_keys_from_signature,
        make_shingle_udf,
        minhash_signatures,
    )

    docs = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    mut = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat("text", F.lit(" appended mutation tail words")).alias("text"),
    )
    sh_udf = make_shingle_udf(3)
    siga = minhash_signatures(
        docs.select("doc_id", sh_udf("text").alias("sh")), "doc_id", "sh", 4
    )
    sigb = minhash_signatures(
        mut.select("doc_id", sh_udf("text").alias("sh")), "doc_id", "sh", 4
    ).select("doc_id", *[F.col(f"mh{i}").alias(f"nh{i}") for i in range(4)])
    truth = siga.join(sigb, "doc_id")

    out = None
    for nb, rpb in GRID_CONFIGS:
        ba = band_keys_from_signature(nb, rpb)
        bb = F.array(
            *[
                F.concat_ws(
                    "#",
                    F.lit(str(b)),
                    *[F.col(f"nh{b * rpb + r}") for r in range(rpb)],
                )
                for b in range(nb)
            ]
        )
        cfg = truth.select(
            F.lit(nb).alias("n_bands"),
            F.lit(rpb).alias("rows_per_band"),
            (F.size(F.array_intersect(ba, bb)) > 0).alias("hit"),
        ).groupBy("n_bands", "rows_per_band").agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_caught"),
        )
        out = cfg if out is None else out.unionByName(cfg)
    return out

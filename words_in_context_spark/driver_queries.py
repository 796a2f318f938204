"""Driver-contract query battery: Spark callables + matching DuckDB oracles.

Each entry here evidences one or more rows of the SURVEY.md §2 operator
inventory over the driver's parquet tables at ``sf_dir``. Conventions that
keep the driver's hash-compare deterministic across engines:

  * every computed column is aliased identically in Spark and SQL;
  * ranking keys are ``round(score, 6)`` before ordering, with a discrete
    final tie-break (term/id asc) — double-precision ulp differences between
    JVM and DuckDB math can therefore never flip a rank;
  * compared float columns are rounded (sums to 2dp, scores to 4dp);
  * timestamps are compared as formatted UTC strings.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Tokenization pattern shared verbatim by Spark and the DuckDB oracle (the
# documents table is ASCII). The engine's full Unicode tokenizer lives in
# operators/extract.py; this is the SQL-expressible fast path (P7-P9).
TOKEN_SPLIT = "[^a-z]+"

BM25_K1 = 1.2
BM25_B = 0.75
# fixed query for the BM25 retrieval entry (terms present in the testdata docs)
BM25_QUERY_TERMS = ["table", "query", "spark"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the DuckDB oracle compares timestamps as naive-UTC strings; pin the
    # session TZ here so results don't depend on the caller's session config
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), TOKEN_SPLIT)
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "term")
    ).where(F.col("term") != "")


_TOKS_SQL = f"""
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}')) AS term
  FROM documents
"""


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _forward(spark, sf_dir).select("doc_id", "term", "tf")


def _tf_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf, doc_len) with doc_len computed MAP-SIDE as the
    non-empty token count of the document — the same trick the engine's
    tokenize_tf UDF uses (operators/extract.py): the doc-length join stage
    disappears entirely; doc_len rides along through the tf aggregation.

    doc_len is zipped INTO the generator output (arrays_zip) rather than
    projected alongside the explode: a sibling projection gets pulled above
    the Generate by Catalyst and re-evaluates size(filter(split(text))) per
    TOKEN row — O(doc_len²) per document (measured 6× slower at sf0.1)."""
    docs = _read(spark, sf_dir, "documents")
    # The documents table is small on disk (parquet splits ≈ size/4MB), so
    # the tokenize+aggregate stage would otherwise run on 1-2 scan tasks and
    # leave the rest of the cluster idle (measured at sf1.0: 2 input splits,
    # 8.6 s forward build → 2.5 s after widening). Same rule as
    # index/build.py's tokenize widening: only when the scan can't feed every
    # slot — at web scale input splits outnumber slots and this no-ops.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(2 * par)
    arr = F.filter(
        F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != ""
    )
    z = F.explode(F.arrays_zip(arr, F.array_repeat(F.size(arr), F.size(arr))))
    return (
        docs.select("doc_id", z.alias("z"))
        .select(
            "doc_id",
            F.col("z.0").alias("term"),
            # long: matches the oracle's CAST(sum(tf) AS BIGINT) exactly —
            # the driver hash is type-sensitive
            F.col("z.1").cast("long").alias("doc_len"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


_FWD_VERSION = "fwd-v1"  # bump when _tf_dl semantics/schema change


def _forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Battery forward index ``(doc_id, term, tf, doc_len)``, materialized to
    parquet ONCE per (corpus, tokenizer version) and reused by every later
    query invocation in the same battery/bench run — the driver-battery
    analog of the engine's forward artifact (index/build.py:253-271). This is
    the 100 TB plan: the raw corpus is tokenized zero times per query; every
    tf-derived query scans the far smaller term-doc table, with column
    pruning and term-predicate pushdown hitting that parquet directly.

    The cache key hashes the documents.parquet path + mtime + size (auto
    invalidation on data change) and the tokenizer version. Writes are
    atomic: build to a pid-suffixed temp dir, rename into place; a lost race
    discards the loser's copy. Non-local paths (hdfs://, s3://) skip the
    cache and compute the forward table inline."""
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    try:
        if os.path.isdir(src):
            # a directory's own stat is useless as a change signal (st_size is
            # the inode size; in-place rewrite of an existing part file keeps
            # name/count and may not touch directory mtime) — key on the
            # sorted per-file listing instead, RECURSIVELY: a partitioned
            # documents.parquet nests its part files in subdirectories, and a
            # flat scandir would silently serve a stale cache after an
            # in-place rewrite of a nested file
            sig = ";".join(
                f"{os.path.relpath(os.path.join(dp, fn), src)}"
                f":{(st := os.stat(os.path.join(dp, fn))).st_size}"
                f":{st.st_mtime_ns}"
                for dp, dns, fns in sorted(os.walk(src))
                for fn in sorted(fns)
            )
        else:
            st = os.stat(src)
            sig = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return _tf_dl(spark, sf_dir)
    key = f"{src}|{sig}|{_FWD_VERSION}|{TOKEN_SPLIT}"
    root = os.environ.get(
        "WICS_FWD_CACHE", os.path.join(tempfile.gettempdir(), "wics_fwd_cache")
    )
    path = os.path.join(root, hashlib.sha256(key.encode()).hexdigest()[:16])
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        _tf_dl(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        os.makedirs(root, exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
    return spark.read.parquet(path)


_TF_SQL = f"""
  WITH toks AS ({_TOKS_SQL})
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term
"""


# ---------------------------------------------------------------------------
# Full-text engine queries (SURVEY §2.3, §2.4, §2.6)
# ---------------------------------------------------------------------------


def q_doc_term_tf(spark, sf_dir):
    """A1/A3/A4: term frequency per (doc, term) WITH the document length —
    one battery entry covering the former separate doc_len query (battery
    kept ≤ the driver's 50-entry check budget, see COVERAGE.md): doc_len is
    the map-side per-doc value from the forward index, verified here on
    every row rather than once per doc."""
    return _forward(spark, sf_dir).select("doc_id", "term", "tf", "doc_len")


def q_term_df(spark, sf_dir):
    """A6: document frequency per term — re-agg of the (smaller) tf set,
    never a second pass over raw tokens."""
    return _tf(spark, sf_dir).groupBy("term").agg(
        F.count("*").alias("df")
    )


def q_tfidf_topk(spark, sf_dir):
    """Flagship (M1): per-document TF-IDF top-10 terms, reference scoring
    ``tf/doc_len * ln(N/df)`` (extract_words.py:418-428) with pinned
    tie-break. Broadcast join for the term-df dimension (J1).

    The ranking key is round(score, 6) (stable given the discrete term
    tie-break), but the COMPARED score column is round(score, 4): JVM and
    DuckDB ``ln`` differ in the last ulp, so a 6dp boundary score flips
    between engines — the same recipe q_bm25_topk uses. tf is read from the
    materialized forward index (_forward: the corpus is tokenized ZERO times
    here after the one-time build); doc_len was computed map-side at
    tokenize time, so there is no doc-length aggregate or join at all.
    n_docs comes from parquet count metadata (no column read)."""
    docs = _read(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = _forward(spark, sf_dir)
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    raw = (F.col("tf") / F.col("doc_len")) * F.log(
        F.lit(float(n_docs)) / F.col("df")
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        # rank key: 6dp; compared column: 4dp of the RAW score (never
        # round-of-round — a 6dp value ending in '50' is an exact 4dp tie
        # that Spark HALF_UP and DuckDB C-double rounding resolve differently)
        .withColumn("score6", F.round(raw, 6))
        .withColumn("score", F.round(raw, 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("doc_id", "term", "tf", "doc_len", "df", "score", "rank")
    )


def q_bm25_topk(spark, sf_dir):
    """M3 scorer (brute-force path): BM25 retrieval of the top-20 documents
    for a fixed 3-term query; idf = ln(1+(N-df+0.5)/(df+0.5)). tf/doc_len are
    served from the materialized forward index (see _forward).

    r7 shape (guide §2.4, §6): avgdl = sum(tf)/countDistinct(doc_id) — a
    single map-side-partial aggregate instead of a full shuffle of the
    forward table by doc_id (per-doc doc_len sums to sum(tf), and both
    divisions are exact-integer-to-double so the value is bit-identical to
    avg(doc_len), asserted in tests). The query-term selection is a pushed
    ``term IN (...)`` scan predicate instead of a broadcast join, and df is
    aggregated over the selected terms only (df per term is unchanged by
    dropping other terms). Measured at sf1.0: 4.2 s → 1.7 s first run."""
    docs = _read(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = _forward(spark, sf_dir)
    tot_tf, n_fwd_docs = tf.agg(
        F.sum("tf"), F.countDistinct(F.col("doc_id"))
    ).collect()[0]
    if not n_fwd_docs:  # empty forward table: no document can score
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    avgdl = float(tot_tf) / float(n_fwd_docs)
    sel = tf.where(F.col("term").isin(*BM25_QUERY_TERMS))
    dfq = sel.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        sel.join(F.broadcast(dfq), "term")
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * F.col("tf")
            * (BM25_K1 + 1)
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("doc_len") / F.lit(float(avgdl)))
            ),
        )
    )
    scores = contrib.groupBy("doc_id").agg(
        F.round(F.sum("part"), 6).alias("score6"),
        F.round(F.sum("part"), 4).alias("score"),
    )
    # TakeOrderedAndProject (k-row global top-k), THEN rank the 20 collected
    # rows — never a global Window sort over the full candidate set
    # (index/query.py does the same in the segment path).
    top = scores.orderBy(F.desc("score6"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score6"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "rank")
    )


def q_postings(spark, sf_dir):
    """A1 posting lists, serialized deterministically: per term, the ordered
    ``doc:tf`` run — the logical content of an index segment (J2-joinable).

    One groupBy(term). A two-level range-salted form (per-(term, doc-range)
    runs, then a per-term concat) ran at 0.775x the speed of this one in a
    paired A/B: its extra min/max job and second aggregation cost more than
    the head-term funnel they remove on a small vocabulary."""
    tf = _tf(spark, sf_dir)
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(
                    ":", s.doc_id.cast("string"), s.tf.cast("string")
                ),
            ),
        ).alias("postings"),
    )


def q_top_tf_terms(spark, sf_dir):
    """Q4/Q5 on discrete keys: top-5 terms per doc by raw tf (ties by term)."""
    tf = _tf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "rank")
    )


# ---------------------------------------------------------------------------
# Relational operator inventory over the TPC-H-ish tables (SURVEY §2.2/4/5/7)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style wide aggregate (A3-A5 analog): filters + 6 aggs."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """J1 analog: fact ⋈ dims (customer→nation), grouped revenue.

    The lineitem ⋈ orders join is hinted shuffle-hash (guide §3.1): the
    planner's alternative here is broadcasting orders, and building +
    shipping a millions-of-rows hash relation through the driver is the
    measured bottleneck (sf1.0: 2.0 s → 1.05 s with the hint). At cluster
    scale orders cannot be broadcast at all, and both sides shuffled by the
    unique o_orderkey give uniform partitions for the hash build (skew-free
    by construction; AQE skew-join splitting stays on). customer/nation
    remain true broadcast dims."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    """J3: left-anti join — the checkpoint/resume idiom
    (extract_words.py:372-376). Right side pre-filtered to high-value orders
    so the anti-join is non-vacuous at every sf."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_customers_with_open_orders(spark, sf_dir):
    """Semi join (EXISTS)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_nationkey"
    )


def q_top_orders_per_customer(spark, sf_dir):
    """Q5 top-k per customer on discrete tie-break.

    r7 shape (guide §2.4): aggregate-sort-slice instead of a row_number
    window — collect the (rounded price, orderkey) pairs per customer, sort
    the ~10-element arrays, keep 3, posexplode. The window plan pays two full
    sorts of the orders table (map-side for WindowGroupLimit, reduce-side for
    the window) for the same shuffle volume; sorting per-customer arrays is
    O(n) total. Identical rows: struct order (-price, orderkey) == (price
    DESC, orderkey ASC), negation of rounded positive doubles is exact, and
    rank = array position. Measured at sf1.0: 1.6 s → 1.1 s."""
    o = _read(spark, sf_dir, "orders")
    pre = o.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("tp")
    )
    g = pre.groupBy("o_custkey").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("tp")).alias("ntp"),
                        F.col("o_orderkey").alias("ok"),
                    )
                )
            ),
            1,
            3,
        ).alias("top")
    )
    return g.select(
        "o_custkey", F.posexplode("top").alias("pos", "s")
    ).select(
        "o_custkey",
        F.col("s.ok").alias("o_orderkey"),
        (-F.col("s.ntp")).alias("totalprice"),
        (F.col("pos") + 1).alias("rn"),
    )


def q_events_hourly(spark, sf_dir):
    """ST analog, batch form: tumbling 1-hour event-time aggregation (the
    streaming path runs the same agg with a watermark — streaming/).

    Grouped on the NATIVE truncated timestamp (8 bytes, guide §2.3) and
    formatted to the output string once per result row — the previous
    string group key paid date_format per INPUT row and shuffled 19-char
    keys (sf1.0: 2.3 s → 1.5 s). Formatting a truncated UTC timestamp is
    injective, so the groups are identical."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def q_lang_distribution(spark, sf_dir):
    """P10/S3 analog: language histogram of the documents table."""
    return (
        _read(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # explicit BIGINT on both sides: DuckDB sum(int) is HUGEINT,
            # and the driver hash is computed over the stringified type
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_term_tf": q_doc_term_tf,
    "term_df": q_term_df,
    "tfidf_topk": q_tfidf_topk,
    "bm25_topk": q_bm25_topk,
    "postings": q_postings,
    "top_tf_terms": q_top_tf_terms,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "customers_without_orders": q_customers_without_orders,
    "customers_with_open_orders": q_customers_with_open_orders,
    "top_orders_per_customer": q_top_orders_per_customer,
    "events_hourly": q_events_hourly,
    "lang_distribution": q_lang_distribution,
}

ORACLE_SQL: dict[str, str] = {
    "doc_term_tf": f"""
        WITH tf AS ({_TF_SQL})
        -- CAST: DuckDB integer sum() yields HUGEINT; doc_len is an OUTPUT
        -- column and the driver's hasher is type-sensitive (Spark: BIGINT)
        SELECT doc_id, term, tf,
               CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len
        FROM tf
    """,
    "term_df": f"""
        WITH tf AS ({_TF_SQL})
        SELECT term, count(*) AS df FROM tf GROUP BY term
    """,
    "tfidf_topk": f"""
        WITH tf AS ({_TF_SQL}),
        -- CAST: DuckDB integer sum() yields HUGEINT; doc_len is an OUTPUT
        -- column, and the driver's hasher is type-sensitive (Spark side is
        -- BIGINT). Same fix as lang_distribution's total_chars in r2.
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len
               FROM tf GROUP BY doc_id),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len, dfq.df,
                 round((tf.tf / CAST(dl.doc_len AS DOUBLE))
                       * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS score6,
                 round((tf.tf / CAST(dl.doc_len AS DOUBLE))
                       * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 4) AS score
          FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score6 DESC, term ASC) AS rank
          FROM scored
        )
        SELECT doc_id, term, tf, doc_len, df, score, rank
        FROM ranked WHERE rank <= 10
    """,
    "bm25_topk": f"""
        WITH tf AS ({_TF_SQL}),
        dl AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
        stats AS (SELECT avg(doc_len) AS avgdl FROM dl),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
        contrib AS (
          SELECT tf.doc_id,
                 ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doc_len / stats.avgdl))
                 AS part
          FROM tf JOIN q USING (term) JOIN dfq USING (term)
               JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN stats
        ),
        scores AS (
          SELECT doc_id, round(sum(part), 6) AS score6,
                 round(sum(part), 4) AS score
          FROM contrib GROUP BY doc_id
        ),
        ranked AS (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score6 DESC, doc_id ASC) AS rank
          FROM scores
        )
        SELECT doc_id, score, rank FROM ranked WHERE rank <= 20
    """,
    "postings": f"""
        WITH tf AS ({_TF_SQL})
        SELECT term, count(*) AS df,
               string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        FROM tf GROUP BY term
    """,
    "top_tf_terms": f"""
        WITH tf AS ({_TF_SQL}),
        ranked AS (
          SELECT doc_id, term, tf, row_number() OVER (
            PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank
          FROM tf
        )
        SELECT doc_id, term, tf, rank FROM ranked WHERE rank <= 5
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 400000)
    """,
    "customers_with_open_orders": """
        SELECT c_custkey, c_nationkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    "top_orders_per_customer": """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC) AS rn
          FROM orders
        )
        SELECT o_custkey, o_orderkey, totalprice, rn FROM ranked WHERE rn <= 3
    """,
    "events_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
    """,
    "lang_distribution": """
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    """,
}


# ---------------------------------------------------------------------------
# operator fill-in: grouping sets, pivot, set ops, positional postings
# ---------------------------------------------------------------------------


def q_grouping_sets_orders(spark, sf_dir):
    """Grouping-set aggregates (NULL marks totals): the CUBE over
    (status, priority) and the ROLLUP over (yr, mo) — formerly two battery
    entries — as ONE explicit GROUPING SETS aggregate in a single shuffle
    (the shared grand-total set appears once). Consolidated to keep the
    battery ≤ the driver's 50-entry check budget (COVERAGE.md)."""
    o = (
        _read(spark, sf_dir, "orders")
        .withColumn("yr", F.year("o_orderdate"))
        .withColumn("mo", F.month("o_orderdate"))
    )
    return o.groupingSets(
        [
            ["o_orderstatus", "o_orderpriority"],
            ["o_orderstatus"],
            ["o_orderpriority"],
            [],
            ["yr", "mo"],
            ["yr"],
        ],
        "o_orderstatus", "o_orderpriority", "yr", "mo",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_pivot_status_priority(spark, sf_dir):
    """Pivot: order counts, status rows × priority columns."""
    o = _read(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pt = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("o_orderstatus")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"p{i + 1}")
        for i, p in enumerate(prios)
    ]
    return pt.select(*cols)


def q_segment_set_ops(spark, sf_dir):
    """Set operations: customers in BUILDING ∪ AUTOMOBILE minus those with an
    open order (UNION / EXCEPT over keys)."""
    c = _read(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    o = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 250000)
    ).select(F.col("o_custkey").alias("c_custkey"))
    return a.union(b).distinct().exceptAll(o.distinct())


def q_term_positions(spark, sf_dir):
    """A1 positional postings: per (doc, term) the ordered occurrence
    positions, serialized for hash-stable comparison."""
    toks = _tokens(spark, sf_dir)
    return (
        toks.groupBy("doc_id", "term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("pos")),
                    lambda p: p.cast("string"),
                ),
            ).alias("positions")
        )
    )


PHRASE = ["table", "hash"]


def q_phrase_match(spark, sf_dir):
    """Exact phrase search (token adjacency) — anchored co-partitioned join
    chain over positional tokens (operators/phrase.py), the token-granular
    generalization of the reference's cue-level co-occurrence lookup
    (extract_words.py:195-196,222-228)."""
    from .operators.phrase import phrase_count

    return phrase_count(_tokens(spark, sf_dir), PHRASE)


COOC_TERMS = ("table", "spark")
COOC_WINDOW = 16


def q_cooccurrence(spark, sf_dir):
    """J2 same-line co-occurrence retrieval in its SQL-expressible driver
    form (the engine's index-backed twin is index/query.cooccurrence_topk
    over cue-level line_ids): the driver documents are unpunctuated prose,
    so a 'line' is a fixed 16-token window (pos // 16 over the raw split
    positions — the same convention as term_positions/phrase_match).
    Documents ranked by the number of windows containing BOTH query terms;
    global top-20 via TakeOrderedAndProject, rank over the collected rows."""
    toks = _tokens(spark, sf_dir)
    sel = (
        toks.where(F.col("term").isin(*COOC_TERMS))
        .select(
            "doc_id",
            F.floor(F.col("pos") / COOC_WINDOW).cast("long").alias("win"),
            "term",
        )
        .distinct()
    )
    both = (
        sel.groupBy("doc_id", "win")
        .agg(F.countDistinct("term").alias("nt"))
        .where(F.col("nt") == len(COOC_TERMS))
    )
    per_doc = both.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    top = per_doc.orderBy(F.desc("n_windows"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("n_windows"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "n_windows", "rank")
    )


def q_docs_for_terms(spark, sf_dir):
    """Inverted lookup: documents ranked by tf for two fixed terms."""
    tf = _tf(spark, sf_dir)
    sel = tf.where(F.col("term").isin("spark", "window"))
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        sel.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 15)
        .select("term", "doc_id", "tf", "rank")
    )


# Deterministic case/sentence augmentation for the name-detection entry:
# the driver's documents table is all-lowercase prose without punctuation,
# so the NameCase evidence is synthesized in-query (the same device
# q_html_extract uses for markup). Per doc_id the three rule branches vary:
#   Zorbo — 1 sentence-initial NameCase occ + (doc_id%3) mid-sentence ones,
#           plus a lowercase echo on even doc_ids
#   Quix  — two sentence-initial-only occs on doc_id%5==0, else two
#           mid-sentence occs
# so "likely name" requires: never lowercase AND >=2 occs AND >=1 NameCase
# occurrence at sentence position > 0 (extract_words.py:306-327).
_NAMES_AUG_SQL = (
    "'Zorbo spoke first. ' || repeat('Then Zorbo nodded. ', doc_id % 3) || "
    "CASE WHEN doc_id % 2 = 0 THEN 'the zorbo idea faded. ' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN 'Quix. Quix. ' "
    "ELSE 'We saw Quix and Quix again. ' END || text"
)
_NAMECASE_RE = "^[A-Z][a-z]*$"


def q_likely_names(spark, sf_dir):
    """A8/Q2 (reference name detection, extract_words.py:306-327): a term is
    a likely name iff every occurrence is NameCase, it occurs >= 2 times, and
    at least one NameCase occurrence sits at sentence position > 0. Sentence
    positions come from a two-level tokenize (sentences on [.!?]+, words on
    non-alpha); the per-(doc,name) evidence is ONE conditional aggregation —
    the same fold plans/tfidf.py:33-53 uses, here in its SQL-expressible
    driver form."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NAMES_AUG_SQL).alias("aug")
    )
    sent = docs.select(
        "doc_id", F.explode(F.split(F.col("aug"), r"[.!?]+")).alias("s")
    )
    toks = sent.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("s"), "[^A-Za-z]+"), lambda t: t != "")
        ).alias("pos", "term"),
    )
    namecase = F.col("term").rlike(_NAMECASE_RE)
    g = toks.groupBy("doc_id", F.lower(F.col("term")).alias("name")).agg(
        F.count("*").alias("occs"),
        F.count(F.when(namecase, 1)).alias("name_occs"),
        F.count(F.when(namecase & (F.col("pos") > 0), 1)).alias("mid_occs"),
    )
    return g.where(
        (F.col("name_occs") == F.col("occs"))
        & (F.col("occs") >= 2)
        & (F.col("mid_occs") >= 1)
    ).select("doc_id", "name", "occs")


# Sound-description augmentation (Q3): '[music humming]' is prepended to
# every doc, so both terms occur ONLY inside brackets except on doc_id%10==0
# where a bare 'music' escapes — exercising both branches of the reference
# rule (extract_words.py:430-437: a term with at least one occurrence
# OUTSIDE brackets gets its score multiplied by 10000).
_SOUND_AUG_SQL = (
    "'[music humming] ' || text || "
    "CASE WHEN doc_id % 10 = 0 THEN ' music' ELSE '' END"
)
_BRACKET_RE = r"\[[^\]]*\]"


def q_sound_desc_boost(spark, sf_dir):
    """Q3 scoring: per-doc TF-IDF where terms appearing ONLY inside
    [sound-description] brackets keep their raw score and everything else is
    boosted x10000 (the reference deprioritizes bracket-only terms by
    boosting the rest). Bracket membership is computed as a multiset
    equality — occurrences inside regexp-extracted bracket spans vs total
    occurrences — which needs no positional state machine and is identical
    SQL in both engines. Rank key round(raw,6), compared column round(raw,4)
    (the battery's standard cross-engine recipe)."""
    base = _read(spark, sf_dir, "documents")
    n_docs = base.count()
    docs = base.select("doc_id", F.expr(_SOUND_AUG_SQL).alias("aug"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("aug")), "[^a-z]+"), lambda t: t != ""
            )
        ).alias("term"),
    )
    br = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.lower(
                        F.array_join(
                            F.regexp_extract_all(
                                F.col("aug"), F.lit(_BRACKET_RE), 0
                            ),
                            " ",
                        )
                    ),
                    "[^a-z]+",
                ),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    btf = br.groupBy("doc_id", "term").agg(F.count("*").alias("btf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    all_sound = F.coalesce(F.col("btf"), F.lit(0)) == F.col("tf")
    raw = (F.col("tf") / F.col("doc_len")) * F.log(
        F.lit(float(n_docs)) / F.col("df")
    )
    boosted = F.when(all_sound, raw).otherwise(raw * 10000)
    scored = (
        tf.join(btf, ["doc_id", "term"], "left")
        .join(dl, "doc_id")
        .join(F.broadcast(dfq), "term")
        .withColumn("all_sound", all_sound)
        .withColumn("score6", F.round(boosted, 6))
        .withColumn("score", F.round(boosted, 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "all_sound", "score", "rank")
    )


def q_order_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of order value per priority class,
    composed explicitly (rank window → integer index selection → linear
    interpolation) with the IDENTICAL expression in the oracle. Built-in
    percentile/quantile_cont would be semantically equal but differ in the
    last ulp of the interpolation arithmetic — the raw doubles here are
    bit-identical across engines by construction, so no rounding is needed
    (rounding interpolated values is itself unsafe: Spark rounds the decimal
    shortest-repr, DuckDB the binary double)."""
    o = _read(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = o.withColumn("rn", F.row_number().over(w))
    spec = (
        ranked.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            "o_orderpriority",
            "n",
            F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 95)])).alias(
                "pct"
            ),
        )
        .withColumn("idx", (F.col("n") - 1) * (F.col("pct") / 100.0))
        .withColumn("lo", F.floor("idx").cast("long") + 1)
        .withColumn("hi", F.least(F.floor("idx").cast("long") + 2, F.col("n")))
        .withColumn("g", F.col("idx") - F.floor("idx"))
    )
    a = ranked.select(
        "o_orderpriority", F.col("rn").alias("lo"), F.col("o_totalprice").alias("va")
    )
    b = ranked.select(
        "o_orderpriority", F.col("rn").alias("hi"), F.col("o_totalprice").alias("vb")
    )
    return (
        spec.join(a, ["o_orderpriority", "lo"])
        .join(b, ["o_orderpriority", "hi"])
        .select(
            "o_orderpriority",
            "pct",
            (F.col("va") + (F.col("vb") - F.col("va")) * F.col("g")).alias(
                "value"
            ),
            "n",
        )
    )


def q_segment_intersect(spark, sf_dir):
    """INTERSECT: customers in the BUILDING segment who also hold an open
    order (completes the set-op family next to union/except)."""
    c = _read(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _read(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "O"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(o)


def q_customer_running_revenue(spark, sf_dir):
    """Cumulative window: per-customer running order total in date order
    (ROWS UNBOUNDED PRECEDING — the prefix-scan window shape). Limited to one
    nation's customers to keep the compared set focused."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer").where(F.col("c_nationkey") == 7)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .withColumn(
            "running_total",
            F.round(F.sum(F.round("o_totalprice", 2)).over(w), 2),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "running_total",
        )
    )


def q_part_name_search(spark, sf_dir):
    """String-function surface: LIKE filter + substring/upper/length/
    levenshtein projections (identical semantics in both engines)."""
    p = _read(spark, sf_dir, "part")
    return (
        p.where(F.col("p_name").like("%red%"))
        .select(
            "p_partkey",
            "p_name",
            F.upper(F.substring("p_name", 1, 10)).alias("head10"),
            F.length("p_name").alias("name_len"),
            F.levenshtein(F.col("p_brand"), F.lit("Brand#33")).alias(
                "brand_dist"
            ),
        )
    )


def q_customer_order_span(spark, sf_dir):
    """Date-arithmetic surface: per-customer first/last order date and the
    day span between them (integer datediff — identical both engines)."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias(
            "span_days"
        ),
        F.count("*").alias("n_orders"),
    )


def q_customer_priority_sets(spark, sf_dir):
    """Array-aggregation surface: the distinct order-priority set per
    customer, sorted and serialized (collect_set → array_sort → concat)."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderpriority"))
        ).alias("priorities"),
        F.countDistinct("o_orderpriority").alias("n_distinct"),
    )


QUERIES.update(
    {
        "part_name_search": q_part_name_search,
        "customer_order_span": q_customer_order_span,
        "customer_priority_sets": q_customer_priority_sets,
        "order_percentiles": q_order_percentiles,
        "segment_intersect": q_segment_intersect,
        "customer_running_revenue": q_customer_running_revenue,
        "grouping_sets_orders": q_grouping_sets_orders,
        "pivot_status_priority": q_pivot_status_priority,
        "segment_set_ops": q_segment_set_ops,
        "term_positions": q_term_positions,
        "docs_for_terms": q_docs_for_terms,
        "phrase_match": q_phrase_match,
        "likely_names": q_likely_names,
        "sound_desc_boost": q_sound_desc_boost,
        "cooccurrence": q_cooccurrence,
    }
)

ORACLE_SQL.update(
    {
        "likely_names": f"""
            WITH docs AS (
              SELECT doc_id, {_NAMES_AUG_SQL} AS aug FROM documents
            ),
            sent AS (
              SELECT doc_id, unnest(regexp_split_to_array(aug, '[.!?]+')) AS s
              FROM docs
            ),
            stok AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(s, '[^A-Za-z]+'),
                                 t -> t <> '') AS arr
              FROM sent
            ),
            idx AS (
              SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
              FROM stok
            ),
            toks AS (
              SELECT doc_id, arr[i] AS term, i - 1 AS pos FROM idx
            ),
            agg AS (
              SELECT doc_id, lower(term) AS name, count(*) AS occs,
                     count(*) FILTER (
                       WHERE regexp_full_match(term, '[A-Z][a-z]*')
                     ) AS name_occs,
                     count(*) FILTER (
                       WHERE regexp_full_match(term, '[A-Z][a-z]*')
                         AND pos > 0
                     ) AS mid_occs
              FROM toks GROUP BY doc_id, lower(term)
            )
            SELECT doc_id, name, occs FROM agg
            WHERE name_occs = occs AND occs >= 2 AND mid_occs >= 1
        """,
        "sound_desc_boost": f"""
            WITH docs AS (
              SELECT doc_id, {_SOUND_AUG_SQL} AS aug FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(aug), '[^a-z]+'),
                       t -> t <> '')) AS term
              FROM docs
            ),
            brtoks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(array_to_string(
                         regexp_extract_all(aug, '{_BRACKET_RE}'), ' ')),
                         '[^a-z]+'),
                       t -> t <> '')) AS term
              FROM docs
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            btf AS (SELECT doc_id, term, count(*) AS btf
                    FROM brtoks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len
                   FROM tf GROUP BY doc_id),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     coalesce(btf.btf, 0) = tf.tf AS all_sound,
                     CASE WHEN coalesce(btf.btf, 0) = tf.tf
                          THEN (tf.tf / CAST(dl.doc_len AS DOUBLE))
                               * ln(CAST(n.n_docs AS DOUBLE) / dfq.df)
                          ELSE (tf.tf / CAST(dl.doc_len AS DOUBLE))
                               * ln(CAST(n.n_docs AS DOUBLE) / dfq.df) * 10000
                     END AS raw
              FROM tf LEFT JOIN btf USING (doc_id, term)
                   JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
            ),
            ranked AS (
              SELECT doc_id, term, tf, all_sound,
                     round(raw, 4) AS score,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round(raw, 6) DESC, term ASC) AS rank
              FROM scored
            )
            SELECT doc_id, term, tf, all_sound, score, rank
            FROM ranked WHERE rank <= 5
        """,
        "part_name_search": """
            SELECT p_partkey, p_name,
                   upper(substr(p_name, 1, 10)) AS head10,
                   length(p_name) AS name_len,
                   levenshtein(p_brand, 'Brand#33') AS brand_dist
            FROM part WHERE p_name LIKE '%red%'
        """,
        "customer_order_span": """
            SELECT o_custkey,
                   strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
                   strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
                   CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
                                  CAST(max(o_orderdate) AS DATE)) AS INT)
                     AS span_days,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        """,
        "customer_priority_sets": """
            SELECT o_custkey,
                   array_to_string(
                     list_sort(list(DISTINCT o_orderpriority)), ',')
                     AS priorities,
                   count(DISTINCT o_orderpriority) AS n_distinct
            FROM orders GROUP BY o_custkey
        """,
        "order_percentiles": """
            WITH ranked AS (
              SELECT o_orderpriority, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_orderpriority ORDER BY o_totalprice
                     ) AS rn
              FROM orders
            ),
            counts AS (
              SELECT o_orderpriority, count(*) AS n
              FROM ranked GROUP BY o_orderpriority
            ),
            spec AS (
              SELECT o_orderpriority, n, pct,
                     (n - 1) * (pct / 100.0) AS idx
              FROM counts CROSS JOIN (SELECT unnest([25, 50, 75, 95]) AS pct)
            ),
            spec2 AS (
              SELECT o_orderpriority, n, pct,
                     CAST(floor(idx) AS BIGINT) + 1 AS lo,
                     least(CAST(floor(idx) AS BIGINT) + 2, n) AS hi,
                     idx - floor(idx) AS g
              FROM spec
            )
            SELECT s.o_orderpriority, s.pct,
                   a.o_totalprice
                     + (b.o_totalprice - a.o_totalprice) * s.g AS value,
                   s.n
            FROM spec2 s
            JOIN ranked a ON a.o_orderpriority = s.o_orderpriority AND a.rn = s.lo
            JOIN ranked b ON b.o_orderpriority = s.o_orderpriority AND b.rn = s.hi
        """,
        "segment_intersect": """
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        """,
        "customer_running_revenue": """
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                   round(sum(round(o_totalprice, 2)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING), 2) AS running_total
            FROM orders
            WHERE o_custkey IN (
              SELECT c_custkey FROM customer WHERE c_nationkey = 7)
        """,
        "grouping_sets_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS (
              (o_orderstatus, o_orderpriority), (o_orderstatus),
              (o_orderpriority), (), (yr, mo), (yr))
        """,
        "pivot_status_priority": """
            SELECT o_orderstatus,
                   count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
                   count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
                   count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
                   count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
                   count(*) FILTER (o_orderpriority = '5-LOW') AS p5
            FROM orders GROUP BY o_orderstatus
        """,
        "segment_set_ops": """
            SELECT c_custkey FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            )
            EXCEPT ALL
            SELECT DISTINCT o_custkey AS c_custkey FROM orders
            WHERE o_orderstatus = 'O' AND o_totalprice > 250000
        """,
        "term_positions": f"""
            WITH arrs AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(text), '{TOKEN_SPLIT}') AS arr
              FROM documents
            ),
            pos AS (
              SELECT doc_id, arr,
                     unnest(generate_series(1, len(arr))) AS i
              FROM arrs
            )
            SELECT doc_id, arr[i] AS term,
                   string_agg(i - 1, ',' ORDER BY i) AS positions
            FROM pos WHERE arr[i] <> ''
            GROUP BY doc_id, arr[i]
        """,
        "docs_for_terms": f"""
            WITH tf AS ({{_TF_SQL}}),
            ranked AS (
              SELECT term, doc_id, tf, row_number() OVER (
                PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rank
              FROM tf WHERE term IN ('spark', 'window')
            )
            SELECT term, doc_id, tf, rank FROM ranked WHERE rank <= 15
        """,
    }
)
ORACLE_SQL["docs_for_terms"] = ORACLE_SQL["docs_for_terms"].replace(
    "{_TF_SQL}", _TF_SQL
)

ORACLE_SQL["cooccurrence"] = f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '{TOKEN_SPLIT}') AS arr
      FROM documents
    ),
    pos AS (
      SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM arrs
    ),
    toks AS (
      SELECT doc_id, i - 1 AS p, arr[i] AS term FROM pos WHERE arr[i] <> ''
    ),
    sel AS (
      SELECT DISTINCT doc_id, p // {COOC_WINDOW} AS win, term
      FROM toks WHERE term IN {COOC_TERMS!r}
    ),
    win_both AS (
      SELECT doc_id, win FROM sel
      GROUP BY doc_id, win HAVING count(DISTINCT term) = {len(COOC_TERMS)}
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_windows FROM win_both GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, n_windows, row_number() OVER (
        ORDER BY n_windows DESC, doc_id ASC) AS rank
      FROM per_doc
    )
    SELECT doc_id, n_windows, rank FROM ranked WHERE rank <= 20
"""

ORACLE_SQL["phrase_match"] = f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '{TOKEN_SPLIT}') AS arr
      FROM documents
    ),
    pos AS (
      SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM arrs
    ),
    toks AS (
      SELECT doc_id, i - 1 AS p, arr[i] AS term FROM pos WHERE arr[i] <> ''
    ),
    a AS (SELECT doc_id, p AS start_pos FROM toks WHERE term = '{PHRASE[0]}'),
    b AS (SELECT doc_id, p - 1 AS start_pos FROM toks WHERE term = '{PHRASE[1]}')
    SELECT doc_id, count(*) AS n_matches
    FROM a JOIN b USING (doc_id, start_pos)
    GROUP BY doc_id
"""

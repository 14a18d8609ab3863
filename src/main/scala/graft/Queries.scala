package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Synthetic
import graft.functions.{DotF64, Fingerprint, MinHashSig, PyRandomGolden, SimHash64}
import graft.pipeline.{CellToTileCode, Exprs, KnnJoin, VegPipeline}

/** One registered query: its builder over an sf dir, the DuckDB SQL that
  * checks its output, and whether Bench times it as a headline leaf. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracleSql: String, headline: Boolean)

/** The operator surface of the engine, one entry per SURVEY.md §2 operator
  * (plus the large-scale training-data-pipeline operators), each phrased
  * over the driver testdata tables (with a DuckDB oracle) or over the
  * deterministic synthetic image tables (rows-only check; correctness
  * carried by the golden/mosaic-oracle unit tests). */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal sum rendered as double — bit-identical between Spark
    * and DuckDB regardless of partition/association order. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // ---------------------------------------------------------------- oracle-backed

  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      dsum(col("l_extendedprice")).as("total_area"),
      sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)")).cast("double").as("veg_area"),
      count(lit(1)).as("n_features"))

  private val o01 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_area,
      |       CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS veg_area,
      |       count(*) AS n_features
      |FROM lineitem""".stripMargin

  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val o02 =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").orderBy("o_orderkey")
      .select("o_orderkey", "o_custkey", "o_totalprice").limit(100)

  private val o03 =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100"

  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  private val o04 =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
      |ORDER BY o_orderkey""".stripMargin

  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey").as("feature_id"),
        concat(lit("{"), col("o_orderkey"), lit(","), col("o_custkey"), lit("}")).as("packed"))
      .select(col("feature_id"),
        explode(split(regexp_replace(col("packed"), "[{}]", ""), ",")).as("uprn"))
      .orderBy("feature_id", "uprn")

  private val o05 =
    """SELECT o_orderkey AS feature_id,
      |       unnest(string_split(regexp_replace('{' || o_orderkey || ',' || o_custkey || '}', '[{}]', '', 'g'), ',')) AS uprn
      |FROM orders ORDER BY 1, 2""".stripMargin

  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        ((col("l_orderkey") % 700) * 1000 + (col("l_partkey") % 1300)).as("sort_key"))
      .orderBy("sort_key", "l_orderkey", "l_partkey", "l_linenumber")

  private val o06 =
    """SELECT l_orderkey, l_partkey, l_linenumber,
      |       (l_orderkey % 700) * 1000 + (l_partkey % 1300) AS sort_key
      |FROM lineitem ORDER BY 4, 1, 2, 3""".stripMargin

  /** G3 tile codes via the engine's CellToTileCode expression, cross-checked
    * against a pure-SQL replication of the public grid-letter formula. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_orderkey") % 700).cast("int").as("e"),
        (col("l_partkey") % 1300).cast("int").as("n"))
      .distinct()
    li.select(col("e"), col("n"),
        Exprs.col(CellToTileCode(Exprs.expr(col("e")), Exprs.expr(col("n")))).as("tile_code"))
      .orderBy("e", "n")
  }

  private val o07 =
    """WITH en AS (SELECT DISTINCT CAST(l_orderkey % 700 AS INT) AS e, CAST(l_partkey % 1300 AS INT) AS n FROM lineitem),
      |g AS (SELECT e, n, e // 100 AS e100, n // 100 AS n100 FROM en),
      |c AS (SELECT e, n, e100, n100,
      |        (19 - n100) - (19 - n100) % 5 + (e100 + 10) // 5 AS l1r,
      |        (19 - n100) * 5 % 25 + e100 % 5 AS l2r
      |      FROM g)
      |SELECT e, n,
      |       CASE WHEN e100 BETWEEN 0 AND 7 AND n100 BETWEEN 0 AND 12 THEN
      |         chr(65 + l1r + CASE WHEN l1r > 7 THEN 1 ELSE 0 END) ||
      |         chr(65 + l2r + CASE WHEN l2r > 7 THEN 1 ELSE 0 END) ||
      |         lpad(CAST(e % 100 AS VARCHAR), 2, '0') || lpad(CAST(n % 100 AS VARCHAR), 2, '0')
      |       ELSE NULL END AS tile_code
      |FROM c ORDER BY e, n""".stripMargin

  private def q08(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part1 = li.where(col("l_orderkey") % 2 === 0)
    val part2 = li.where(col("l_orderkey") % 2 === 1)
    part1.unionAll(part2).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy("l_returnflag")
  }

  private val o08 =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0
      |      UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 2 = 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("ts").as("min_ts"), max("ts").as("max_ts"),
        countDistinct("user_id").as("n_users"))
      .orderBy("event_type")

  private val o09 =
    """SELECT event_type, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts,
      |       count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private def q10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  private val o10 =
    """SELECT o_orderpriority, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY 1, 2""".stripMargin

  // -------- training-data pipeline operators over documents/embeddings

  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .orderBy("fp")

  private val o11 =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).as("text_len"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .orderBy("doc_id")

  private val o12 =
    """SELECT doc_id, CAST(length(text) AS INT) AS text_len,
      |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
      |FROM documents ORDER BY 1""".stripMargin

  private def q13(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    t(s, dir, "documents").select(col("doc_id"),
        length(txt).as("text_len"),
        (length(txt) - length(regexp_replace(txt, "[aeiou]", ""))).as("n_vowels"),
        (length(txt) - length(regexp_replace(txt, "\\s", ""))).as("n_spaces"),
        ((length(txt) - length(regexp_replace(txt, "[aeiou]", ""))).cast("double") /
          length(txt).cast("double")).as("vowel_ratio"))
      .orderBy("doc_id")
  }

  private val o13 =
    """SELECT doc_id, CAST(length(text) AS INT) AS text_len,
      |       CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS n_vowels,
      |       CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_spaces,
      |       CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
      |         / CAST(length(text) AS DOUBLE) AS vowel_ratio
      |FROM documents ORDER BY 1""".stripMargin

  /** n-gram-heuristic language id: stopword-list hit counts, argmax with
    * fixed precedence. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val low = lower(col("text"))
    def hits(words: Seq[String]): Column =
      words.map(wd => size(split(low, s"\\b$wd\\b")) - 1).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is"))
    val fr = hits(Seq("le", "la", "et", "est"))
    val de = hits(Seq("der", "und", "die", "ist"))
    t(s, dir, "documents").select(col("doc_id"),
        en.as("en_hits"), fr.as("fr_hits"), de.as("de_hits"),
        when(en >= fr && en >= de, "en").when(fr >= de, "fr").otherwise("de").as("lang_guess"))
      .orderBy("doc_id")
  }

  private val o14 =
    """SELECT doc_id, CAST(en_hits AS INT) AS en_hits, CAST(fr_hits AS INT) AS fr_hits,
      |       CAST(de_hits AS INT) AS de_hits,
      |       CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |            WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS lang_guess
      |FROM (
      |  SELECT doc_id,
      |    len(string_split_regex(lower(text), '\bthe\b')) - 1 + len(string_split_regex(lower(text), '\band\b')) - 1
      |      + len(string_split_regex(lower(text), '\bof\b')) - 1 + len(string_split_regex(lower(text), '\bis\b')) - 1 AS en_hits,
      |    len(string_split_regex(lower(text), '\ble\b')) - 1 + len(string_split_regex(lower(text), '\bla\b')) - 1
      |      + len(string_split_regex(lower(text), '\bet\b')) - 1 + len(string_split_regex(lower(text), '\best\b')) - 1 AS fr_hits,
      |    len(string_split_regex(lower(text), '\bder\b')) - 1 + len(string_split_regex(lower(text), '\bund\b')) - 1
      |      + len(string_split_regex(lower(text), '\bdie\b')) - 1 + len(string_split_regex(lower(text), '\bist\b')) - 1 AS de_hits
      |  FROM documents) ORDER BY doc_id""".stripMargin

  /** BPE-ish regex token counting (the training-data checklist's second
    * tokenizer beside q12's whitespace split): a GPT-2-style pretokenizer
    * pattern — contraction suffixes, space-prefixed letter runs, digit
    * runs, punctuation runs, residual whitespace — restricted to ASCII
    * classes with no lookahead so Java regex (Spark codegen'd
    * regexp_count) and RE2 (DuckDB) agree match-for-match. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val bpe = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+|\\s+"
    t(s, dir, "documents").select(col("doc_id"),
        regexp_count(col("text"), lit(bpe)).as("n_bpe"),
        regexp_count(col("text"), lit(" ?[a-zA-Z]+")).as("n_word"),
        regexp_count(col("text"), lit("\\s+")).as("n_ws"))
      .orderBy("doc_id")
  }

  private val o15 =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+')) AS INT) AS n_bpe,
      |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+')) AS INT) AS n_word,
      |  CAST(len(regexp_extract_all(text, '\s+')) AS INT) AS n_ws
      |FROM documents ORDER BY 1""".stripMargin

  /** Brute-force cosine top-k ANN baseline: every 100th vector queries the
    * full table; fp64 throughout so DuckDB's list functions agree bitwise. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val emb = t(s, dir, "embeddings")
    // native DotF64 ≡ the aggregate(zip_with(..)) fold bit-for-bit (same
    // ascending IEEE order) — only the interpreted lambda dispatch goes
    def dotD(a: Column, b: Column): Column = ec(DotF64(ee(a), ee(b)))
    def normD(a: Column): Column = sqrt(ec(DotF64(ee(a), ee(a))))
    val q = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val joined = q.crossJoin(broadcast(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotD(col("qe"), col("ne")) / (normD(col("qe")) * normD(col("ne")))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  private val o16 =
    """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |             / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
      |                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) DESC,
      |           e.vec_id) AS rank
      |  FROM embeddings q, embeddings e
      |  WHERE q.vec_id % 100 = 0 AND q.vec_id <> e.vec_id)
      |WHERE rank <= 10 ORDER BY 1, 2""".stripMargin

  /** Word-set Jaccard near-dup scoring over a deterministic candidate grid. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("a_id"), array_distinct(split(lower(col("text")), " ")).as("a_words"))
    val b = docs.where(col("doc_id") % 100 === 50)
      .select(col("doc_id").as("b_id"), array_distinct(split(lower(col("text")), " ")).as("b_words"))
    a.crossJoin(broadcast(b))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_words"), col("b_words"))).as("n_common"),
        size(array_distinct(concat(col("a_words"), col("b_words")))).as("n_union"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union").cast("double"))
      .orderBy("a_id", "b_id")
  }

  private val o17 =
    """SELECT a_id, b_id, CAST(n_common AS INT) AS n_common, CAST(n_union AS INT) AS n_union,
      |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
      |FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |         len(list_intersect(list_distinct(string_split(lower(a.text), ' ')),
      |                            list_distinct(string_split(lower(b.text), ' ')))) AS n_common,
      |         len(list_distinct(list_concat(list_distinct(string_split(lower(a.text), ' ')),
      |                                       list_distinct(string_split(lower(b.text), ' '))))) AS n_union
      |  FROM documents a, documents b
      |  WHERE a.doc_id % 100 = 0 AND b.doc_id % 100 = 50)
      |ORDER BY 1, 2""".stripMargin

  /** Streaming windowed aggregation, oracle'd against DuckDB time_bucket. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.hourlyEventCounts(s, s"$dir/events.parquet")

  private val o18 =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming exact dedup (watermark-bounded state, append mode) —
    * output equals batch SELECT DISTINCT by construction; see
    * [[graft.streaming.Streams.dedupedEventKeys]]. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.dedupedEventKeys(s, s"$dir/events.parquet")

  private val o56 =
    """SELECT DISTINCT user_id, event_type,
      |       time_bucket(INTERVAL '1 hour', ts) AS hr
      |FROM events ORDER BY 1, 2, 3""".stripMargin

  /** Stream-stream interval join (watermarked view->click attribution) —
    * see [[graft.streaming.Streams.attributedClicks]]; output equals the
    * batch interval self-join. */
  private def q59(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.attributedClicks(s, s"$dir/events.parquet")

  private val o59 =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      |FROM events v JOIN events c
      |  ON v.event_type = 'view' AND c.event_type = 'click'
      | AND v.user_id = c.user_id
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  /** Streaming per-user sessionization (event-time session windows,
    * 4-hour gap) — declarative session_window; the custom-state
    * flatMapGroupsWithState formulation is unit-tested equal
    * ([[graft.streaming.Streams.userSessionsWithState]]). The oracle
    * re-derives gap-and-islands sessionization in SQL: break at
    * gap >= 4 h (session_window merges strictly-inside events),
    * session_end = last event + gap. */
  private def q40(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.userSessions(s, s"$dir/events.parquet")

  private val o40 =
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 4 HOUR AS session_end,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin

  /** Flight-date float math (S6/A8) oracle'd via ISO-calendar SQL. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("ts"))
    val isoDow = ((dayofweek(d) + 5) % 7) + 1
    val dateFloat = expr("extract(YEAROFWEEK FROM to_date(ts))").cast("double") +
      (weekofyear(d) * 7 + isoDow).cast("double") / 366.0
    t(s, dir, "events")
      .select(col("event_type"), dateFloat.as("date_float"))
      .groupBy("event_type")
      .agg(min("date_float").as("min_date_float"), max("date_float").as("max_date_float"))
      .orderBy("event_type")
  }

  private val o19 =
    """SELECT event_type,
      |       min(isoyear(ts) + (weekofyear(ts) * 7 + isodow(ts)) / 366.0) AS min_date_float,
      |       max(isoyear(ts) + (weekofyear(ts) * 7 + isodow(ts)) / 366.0) AS max_date_float
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact kNN via the cell-ring expansion operator (J4), oracle'd against
    * brute force in DuckDB. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pid"),
      ((col("l_orderkey") % 50) + (col("l_suppkey") % 89).cast("double") / 89.0).as("px"),
      ((col("l_partkey") % 50) + (col("l_orderkey") % 97).cast("double") / 97.0).as("py"))
    val queries = pts.where(col("pid") % 599 === 0)
      .select(col("pid").as("qid"), col("px").as("qx"), col("py").as("qy"))
    KnnJoin.run(s, queries, pts, k = 5)
      .select("qid", "rank", "pid")
      .orderBy("qid", "rank")
  }

  private val o20 =
    """WITH pts AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS pid,
      |         (l_orderkey % 50) + CAST(l_suppkey % 89 AS DOUBLE) / 89.0 AS px,
      |         (l_partkey % 50) + CAST(l_orderkey % 97 AS DOUBLE) / 97.0 AS py
      |  FROM lineitem)
      |SELECT qid, CAST(rank AS INT) AS rank, pid FROM (
      |  SELECT q.pid AS qid, p.pid AS pid,
      |         row_number() OVER (PARTITION BY q.pid
      |           ORDER BY (p.px - q.px) * (p.px - q.px) + (p.py - q.py) * (p.py - q.py), p.pid) AS rank
      |  FROM pts q, pts p
      |  WHERE q.pid % 599 = 0 AND q.pid <> p.pid)
      |WHERE rank <= 5 ORDER BY 1, 2""".stripMargin

  /** Broadcast dimension join (supplier⋈nation⋈region). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("acctbal"))
      .orderBy("r_name", "n_name")

  private val o21 =
    """SELECT r_name, n_name, count(*) AS n,
      |       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Semi/anti joins. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val bigLines = t(s, dir, "lineitem").where(col("l_quantity") > 45).select("l_orderkey")
    val o = t(s, dir, "orders")
    val withBig = o.join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), lit("has_big").as("cls"))
    val withoutBig = o.join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), lit("no_big").as("cls"))
    withBig.unionAll(withoutBig).groupBy("cls").agg(count(lit(1)).as("n")).orderBy("cls")
  }

  private val o22 =
    """SELECT cls, count(*) AS n FROM (
      |  SELECT o_orderkey, 'has_big' AS cls FROM orders
      |  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |  UNION ALL
      |  SELECT o_orderkey, 'no_big' AS cls FROM orders
      |  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------- custom-expression text ops

  /** Winnowed rolling-hash document fingerprints (K-gram Rabin-Karp,
    * k=5, window=4). Output is portable aggregates of the fingerprint
    * set (count/min/max/xor) so the DuckDB oracle can re-derive the
    * ENTIRE computation in SQL: the 61-bit Rabin-Karp k-gram hashes are
    * plain integer arithmetic below 2^61 (no wrapping multiply needed at
    * k=5), winnowing is a window-min + consecutive lag-dedup. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        Exprs.col(Fingerprint(Exprs.expr(col("text")))).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"),
        when(size(col("fps")) === 0, lit(null).cast("long"))
          .otherwise(aggregate(col("fps"), lit(0L), (a, x) => a.bitwiseXOR(x)))
          .as("fp_xor"))
      .orderBy("doc_id")

  /** o23: the full fingerprint pipeline re-derived in DuckDB SQL.
    * 257^4=4362470401 … constants are the k-gram base powers; documents
    * shorter than k have zero fingerprints (NULL aggregates).
    *
    * ASCII-only assumption: the SQL hashes CODEPOINTS (length/substr/ord)
    * while the engine hashes UTF-8 BYTES (TextHash uses getBytes) — the
    * two agree exactly on ASCII text, which all driver testdata scale
    * factors are; a non-ASCII document would make this oracle (not the
    * engine) report a false mismatch. Deriving byte-level substrings in
    * portable SQL isn't worth the complexity while the input contract
    * holds. */
  private val o23 =
    """WITH pos AS (
      |  SELECT doc_id, length(text) AS L, unnest(range(length(text) - 4)) AS i, text
      |  FROM documents WHERE length(text) >= 5),
      |h AS (
      |  SELECT doc_id, L - 4 AS nh, i,
      |         ord(substr(text, CAST(i+1 AS INT), 1)) * 4362470401
      |       + ord(substr(text, CAST(i+2 AS INT), 1)) * 16974593
      |       + ord(substr(text, CAST(i+3 AS INT), 1)) * 66049
      |       + ord(substr(text, CAST(i+4 AS INT), 1)) * 257
      |       + ord(substr(text, CAST(i+5 AS INT), 1)) AS hv
      |  FROM pos),
      |short AS (
      |  SELECT doc_id, min(hv) AS fp, 0 AS wi FROM h WHERE nh <= 4 GROUP BY doc_id),
      |wm AS (
      |  SELECT doc_id, i AS wi,
      |         min(hv) OVER (PARTITION BY doc_id ORDER BY i
      |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |         nh
      |  FROM h QUALIFY nh > 4 AND i <= nh - 4),
      |dedup AS (
      |  SELECT doc_id, fp FROM (
      |    SELECT doc_id, fp, lag(fp) OVER (PARTITION BY doc_id ORDER BY wi) AS prev FROM wm)
      |  WHERE prev IS NULL OR fp <> prev
      |  UNION ALL SELECT doc_id, fp FROM short),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS INT) AS n_fp, min(fp) AS min_fp,
      |         max(fp) AS max_fp, bit_xor(fp) AS fp_xor
      |  FROM dedup GROUP BY 1)
      |SELECT d.doc_id, COALESCE(a.n_fp, 0) AS n_fp, a.min_fp, a.max_fp, a.fp_xor
      |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY 1""".stripMargin

  /** SimHash near-dup pairs via 4x16-bit multi-band candidates (exact
    * recall for hamming <= 3 by pigeonhole, graceful above; see
    * [[graft.functions.NearDup.bandedSelfJoin]]). The simhash is
    * md5-vote based, so o24 re-derives the WHOLE pipeline — token
    * hashes, 64 bit votes, banding, bucket join, hamming refine — in
    * DuckDB SQL, independently of the engine. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir).orderBy("a_id", "b_id")

  /** SimHash near-dup candidate pairs — shared by q24 (the pair list)
    * and q47 (cluster assignment over the pair graph). */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents").select(col("doc_id"),
      Exprs.col(SimHash64(Exprs.expr(split(lower(col("text")), "\\s+")))).as("simhash"))
    graft.functions.NearDup.bandedSelfJoin(sh, "doc_id", "simhash", bandBits = 16, maxHamming = 16)
  }

  /** o24: md5_64(token) = big-endian first 8 md5 bytes, recovered via the
    * hex-literal cast; the signed/unsigned distinction never surfaces
    * because only bits are used. */
  private val o24 =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
      |th AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
      |votes AS (
      |  SELECT doc_id, bits.b AS b,
      |         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(64)) AS b) bits
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END) AS UBIGINT) AS u
      |  FROM votes GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, u, bd.band AS band, (u >> (bd.band * 16)) & 65535 AS bucket
      |  FROM sh, (SELECT unnest(range(4)) AS band) bd),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.u AS au, b.u AS bu
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < b.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(au, bu)) AS INT) AS hamming
      |FROM pairs WHERE bit_count(xor(au, bu)) <= 16 ORDER BY 1, 2""".stripMargin

  /** MinHash-LSH near-dup candidates: signature -> bands -> bucket join.
    * Portable md5-only hash family + the band's raw signature values as
    * the bucket key (engine-agnostic; md5 the key if its width ever
    * matters at scale), so o25 re-derives everything in DuckDB. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val numHashes = 16
    val bandSize = 4
    val sigs = t(s, dir, "documents").select(col("doc_id"),
      Exprs.col(MinHashSig(Exprs.expr(array_distinct(split(lower(col("text")), "\\s+"))),
        numHashes, portable = true)).as("sig"))
    val bands = sigs.select(col("doc_id"), posexplode(
      array((0 until numHashes / bandSize).map(b =>
        concat_ws(",", (b * bandSize until (b + 1) * bandSize)
          .map(i => col("sig")(i).cast("string")): _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = bands.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
    val b = bands.select(col("doc_id").as("b_id"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .orderBy("a_id", "b_id")
  }

  private val o25 =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS s
      |  FROM documents),
      |hv AS (
      |  SELECT doc_id, i.i AS i,
      |         CAST(CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|' || s), 1, 16)) AS UBIGINT) AS HUGEINT) AS u
      |  FROM sh, (SELECT unnest(range(16)) AS i) i),
      |sig AS (
      |  SELECT doc_id, i,
      |         CAST(min(CASE WHEN u >= 9223372036854775808::HUGEINT
      |                       THEN u - 18446744073709551616::HUGEINT ELSE u END) AS BIGINT) AS v
      |  FROM hv GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |         string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS bucket
      |  FROM sig GROUP BY doc_id, i // 4),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < b.doc_id)
      |SELECT a_id, b_id FROM pairs ORDER BY 1, 2""".stripMargin

  /** Image near-dup pairs: perceptual-hash banding (8x8-bit bands ->
    * bucket join -> exact hamming refine; recall is EXACT for the
    * hamming<=7 radius because 7 < 8 bands). The input unions a
    * deterministic 1-bit-perturbed copy of each tile so true near-dup
    * pairs exist at any scale factor. No crossJoin anywhere in the plan. */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val base = phashBase(s, dir)
    val dups = base.select(concat(col("image_id"), lit("~d")).as("image_id"),
      col("phash").bitwiseXOR(lit(1L << 21)).as("phash"))
    graft.functions.NearDup.bandedSelfJoin(base.unionAll(dups),
        "image_id", "phash", bandBits = 8, maxHamming = 7)
      .orderBy("a_id", "b_id")
  }

  /** The synthetic tile table's (image_id, phash) projection — pure; the
    * same frame is written to [[Sidecars.phashPath]] by Verify's setup so
    * the DuckDB oracle for the image-dedup operators can verify the
    * groupBy/banding/hamming machinery over the exact same input (the
    * phash values themselves are pinned by the image-side unit tests; no
    * SQL engine can decode the tiles). */
  private[graft] def phashBase(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, _) = syntheticScale(dir)
    Synthetic.tiles(s, gw, gh, 64).select("image_id", "phash")
  }

  /** o26: dup derivation (xor bit 21), 8x8-bit banding, bucket join and
    * hamming refine all re-derived in SQL over the sidecar. */
  private lazy val o26 = {
    val p = Sidecars.phashPath
    s"""WITH base AS (SELECT image_id, phash FROM read_parquet('$p/*.parquet')),
       |all_t AS (
       |  SELECT image_id, phash FROM base
       |  UNION ALL SELECT image_id || '~d', xor(phash, 2097152) FROM base),
       |u AS (
       |  SELECT image_id, phash,
       |         CAST(phash AS HUGEINT) + CASE WHEN phash < 0
       |           THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS up
       |  FROM all_t),
       |bands AS (
       |  SELECT image_id, phash, bd.band AS band,
       |         (up // (1::HUGEINT << (bd.band * 8))) % 256 AS bucket
       |  FROM u, (SELECT unnest(range(8)) AS band) bd),
       |pairs AS (
       |  SELECT DISTINCT a.image_id AS a_id, a.phash AS ah,
       |                  b.image_id AS b_id, b.phash AS bh
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.image_id < b.image_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(ah, bh)) <= 7 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- image-side (no SQL oracle)

  private def syntheticScale(dir: String): (Int, Int, Long) =
    if (dir.contains("sf0.1")) (12, 12, 600L)
    else if (dir.contains("sf0.01")) (8, 8, 250L)
    else (4, 4, 40L)

  /** One flagship pipeline instance: inputs + config shared between the
    * query, the fragment sidecar ([[Sidecars.writeAll]]) and its oracle,
    * so they cannot drift apart. */
  private[graft] final case class VegCase(
      gardens: DataFrame, tiles: DataFrame,
      cfg: VegPipeline.Config, cir: Option[DataFrame])

  private[graft] def veg30(s: SparkSession, dir: String): VegCase = {
    val (gw, gh, ng) = syntheticScale(dir)
    VegCase(Synthetic.gardens(s, ng, gw, gh), Synthetic.tiles(s, gw, gh, 64),
      VegPipeline.Config(tileSize = 64, kernelNames = Seq("greenleaf", "hsv", "vari")), None)
  }

  private[graft] def veg34(s: SparkSession, dir: String): VegCase = {
    val (gw, gh, ng) = syntheticScale(dir)
    VegCase(Synthetic.gardens(s, ng, gw, gh), Synthetic.tiles(s, gw, gh, 64),
      VegPipeline.Config(tileSize = 64, kernelNames = Seq("ndvi-irgb", "matt")),
      Some(Synthetic.tilesCir(s, gw, gh, 64)))
  }

  private[graft] def veg35(s: SparkSession, dir: String): VegCase =
    VegCase(Synthetic.gardens(s, 20, 3, 3), Synthetic.tiles(s, 3, 3, 64),
      VegPipeline.Config(tileSize = 64, kernelNames = Seq("nn")),
      Some(Synthetic.tilesCir(s, 3, 3, 64)))

  private[graft] def vegRun(s: SparkSession, vc: VegCase): DataFrame =
    VegPipeline.run(s, vc.gardens, vc.tiles, vc.cfg, vc.cir)

  /** The pre-aggregation fragment frame + garden metadata for a VegCase —
    * the sidecar pair whose DuckDB oracle re-derives the pipeline's
    * distributed groupBy-sum, metadata join and fraction division
    * (the image-side fragment scoring itself is pinned by the
    * mosaic-oracle/golden unit tests; no SQL engine can decode tiles). */
  private[graft] def vegFragParts(s: SparkSession, vc: VegCase): (DataFrame, DataFrame) = {
    val idx = VegPipeline.buildIndex(s, vc.gardens, vc.cfg.tileSize,
      vc.cfg.webMercatorZoom, vc.cfg.grid)
    (VegPipeline.fragments(s, idx, vc.tiles, vc.cfg, vc.cir),
      idx.prepared.select("gid", "id"))
  }

  /** The per-garden aggregation algebra (sum npix / sum veg_i, left join
    * metadata, fraction = veg/npix with the zero guard) re-derived in
    * DuckDB over the engine's own fragment sidecar. */
  private def vegAggOracle(fragsPath: String, metaPath: String, kernels: Seq[String]): String = {
    val vsums = kernels.indices.map(i => s"CAST(sum(veg[${i + 1}]) AS BIGINT) AS v$i").mkString(", ")
    val fracs = kernels.zipWithIndex.map { case (k, i) =>
      s"""CASE WHEN s.npix IS NULL OR s.npix = 0 THEN 0.0 ELSE CAST(s.v$i AS DOUBLE) / CAST(s.npix AS DOUBLE) END AS "frac_$k""""
    }.mkString(", ")
    s"WITH sums AS (SELECT gid, CAST(sum(npix) AS BIGINT) AS npix, $vsums " +
      s"FROM read_parquet('$fragsPath/*.parquet') GROUP BY 1) " +
      s"SELECT m.id, COALESCE(s.npix, 0) AS npix, $fracs " +
      s"FROM read_parquet('$metaPath/*.parquet') m LEFT JOIN sums s USING (gid) ORDER BY m.id"
  }

  /** Flagship: polygon⋈tile vegetation fractions (mosaic-oracle-tested;
    * per-garden aggregation additionally oracle'd over the fragment
    * sidecar, [[vegAggOracle]]). */
  private def q30(s: SparkSession, dir: String): DataFrame =
    vegRun(s, veg30(s, dir))
      .select("id", "npix", "frac_greenleaf", "frac_hsv", "frac_vari")
      .orderBy("id")

  private lazy val o30 =
    vegAggOracle(Sidecars.veg30FragsPath, Sidecars.veg30MetaPath,
      Seq("greenleaf", "hsv", "vari"))

  /** Tile-table exact dedup by perceptual hash (image dedup operator);
    * oracle'd over the [[Sidecars.phashPath]] sidecar. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    phashBase(s, dir)
      .groupBy("phash").agg(count(lit(1)).as("n"), min("image_id").as("keep_id"))
      .where(col("n") >= 1)
      .orderBy("phash")

  private lazy val o31 =
    s"""SELECT phash, count(*) AS n, min(image_id) AS keep_id
       |FROM read_parquet('${Sidecars.phashPath}/*.parquet')
       |GROUP BY 1 HAVING count(*) >= 1 ORDER BY 1""".stripMargin

  /** The flagship per-garden result frame at this scale (default config:
    * greenleaf kernel, 64px tiles) — q32/q33 aggregate it, and Verify's
    * setup writes its projection to [[Sidecars.vegPath]] so their DuckDB
    * oracles verify the summary / explode algebra over the engine's own
    * per-garden rows (which are themselves mosaic-oracle-tested). */
  private[graft] def flagshipFrame(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, ng) = syntheticScale(dir)
    VegPipeline.run(s, Synthetic.gardens(s, ng, gw, gh),
      Synthetic.tiles(s, gw, gh, 64), VegPipeline.Config(tileSize = 64))
  }

  /** The square-grid flagship frame WITHOUT missing-tile zero-fill — the
    * comparison target for the hex-cover query (q39; hex cannot zero-fill,
    * a square-grid notion). */
  private[graft] def flagshipFrameNoFill(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, ng) = syntheticScale(dir)
    VegPipeline.run(s, Synthetic.gardens(s, ng, gw, gh),
      Synthetic.tiles(s, gw, gh, 64),
      VegPipeline.Config(tileSize = 64, handleMissingTiles = false))
  }

  /** The flagship polygon⋈tile join over the HEX (H3-style) cover
    * ([[VegPipeline.Config.grid]]): per-garden sums must be bit-identical
    * to the square-grid run (superset cover, zero-pixel extra fragments) —
    * o39 checks that row-for-row against the square engine path's
    * [[Sidecars.vegNoFillPath]] sidecar. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, ng) = syntheticScale(dir)
    VegPipeline.run(s, Synthetic.gardens(s, ng, gw, gh),
      Synthetic.tiles(s, gw, gh, 64),
      VegPipeline.Config(tileSize = 64, handleMissingTiles = false,
        grid = graft.index.GridSystem.Hex(1.7)))
      .select("id", "npix", "frac_greenleaf")
      .orderBy("id")
  }

  private lazy val o39 =
    s"""SELECT id, npix, frac_greenleaf
       |FROM read_parquet('${Sidecars.vegNoFillPath}/*.parquet')
       |ORDER BY id""".stripMargin

  /** Global summary over the flagship output (A2); decimal-exact sums in
    * [[VegPipeline.summarize]] make it bit-reproducible in SQL. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    VegPipeline.summarize(flagshipFrame(s, dir), Seq("greenleaf"))

  private lazy val o32 =
    s"""SELECT CAST(sum(CAST(area_m2 AS DECIMAL(28,4))) AS DOUBLE) AS total_area_m2,
       |       CAST(sum(CAST(area_m2 * frac_greenleaf AS DECIMAL(28,4))) AS DOUBLE) AS veg_area_greenleaf,
       |       CAST(sum(CAST(area_m2 * frac_greenleaf AS DECIMAL(28,4))) AS DOUBLE)
       |         / CAST(sum(CAST(area_m2 AS DECIMAL(28,4))) AS DOUBLE) * 100.0 AS veg_pct_greenleaf
       |FROM read_parquet('${Sidecars.vegPath}/*.parquet')""".stripMargin

  /** IRGB fused pipeline: RGB ⋈ CIR tile join + Ir fusion + the NDVI/matt
    * infrared kernels (S3/J2/K5/K10); aggregation oracle'd over the
    * fragment sidecar. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    vegRun(s, veg34(s, dir))
      .select("id", "npix", "frac_ndvi-irgb", "frac_matt")
      .orderBy("id")

  private lazy val o34 =
    vegAggOracle(Sidecars.veg34FragsPath, Sidecars.veg34MetaPath,
      Seq("ndvi-irgb", "matt"))

  /** The NN classifier kernel (K12) over the fused tile table;
    * aggregation oracle'd over the fragment sidecar. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    vegRun(s, veg35(s, dir))
      .select("id", "npix", "frac_nn")
      .orderBy("id")

  private lazy val o35 =
    vegAggOracle(Sidecars.veg35FragsPath, Sidecars.veg35MetaPath, Seq("nn"))

  /** P3: the reference's seeded random-N sample with exact CPython
    * random.seed(42)/random.sample parity (MT19937 port; golden-pinned in
    * unit tests AND oracle-checked: o38 embeds INDEPENDENT CPython-
    * generated index lists — [[PyRandomGolden]] — keyed by the table's
    * row count so one SQL text is correct at every driver scale factor;
    * the engine's MT19937 must therefore agree with real CPython, not
    * merely with itself). */
  private def q38(s: SparkSession, dir: String): DataFrame =
    graft.functions.PyRandom.seededSample(
        s, t(s, dir, "orders").orderBy("o_orderkey"), 25, 42)
      .select("sample_rank", "o_orderkey", "o_totalprice")
      .orderBy("sample_rank")

  private lazy val o38: String = {
    // (n, selected position, selection rank) literals for the three
    // testdata scale factors; the WHERE picks the row-count match
    val values = Seq(1500, 15000, 150000).flatMap { n =>
      PyRandomGolden.sample42(n).zipWithIndex.map {
        case (pos, rank) => s"($n, $pos, $rank)"
      }
    }
    s"""WITH sel AS (
       |  SELECT idx, r FROM (VALUES ${values.mkString(", ")}) AS t(nv, idx, r)
       |  WHERE nv = (SELECT count(*) FROM orders)),
       |numbered AS (
       |  SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS idx, o_orderkey, o_totalprice
       |  FROM orders)
       |SELECT CAST(sel.r AS INT) AS sample_rank, numbered.o_orderkey, numbered.o_totalprice
       |FROM numbered JOIN sel USING (idx) ORDER BY 1""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs — the embedding modality of
    * the dedup suite (beside exact-hash q11, fingerprint q23, simhash
    * q24, minhash q25 and phash q26). The input unions a
    * deterministically perturbed copy of every 50th vector (+0.125 — a
    * power of two, so the fp64 arithmetic is bit-identical in any
    * engine) so true near-dup pairs exist at every scale factor, exactly
    * as q26 injects phash near-dups. Deliberate exact baseline
    * (broadcast small side, like q16/q17): the LSH/IVF bucketed paths
    * (q27/q28) are the 100 TB candidate generators; this operator is
    * their exact-refine semantics as a standalone, fully-SQL-oracle'd
    * query. cos_pct (floor of 100·cos) keeps the output robust to
    * sub-ulp engine differences; the 0.98 threshold sits 0.012 above the
    * injected pairs' 0.992 and 0.38 above the densest true pair. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec2, expr => ee2}
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // max+1 offset keeps injected dup ids disjoint from real vec_ids at
    // ANY table size (a fixed 1e6 collides past 1e6 rows); oracle mirrors.
    val mxRow = emb.agg(max("vec_id")).head()
    val dupOff = (if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)) + 1L // empty table: no rows to offset anyway
    val dups = emb.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(dupOff)).as("vec_id"),
        transform(col("e"), (x, i) => when(i === 0, x + 0.125).otherwise(x)).as("e"))
    val all = emb.unionAll(dups)
    val a = all.select(col("vec_id").as("a_id"), col("e").as("ae"))
    val b = all.select(col("vec_id").as("b_id"), col("e").as("be"))
    val dot = ec2(DotF64(ee2(col("ae")), ee2(col("be"))))
    def nrm(c: Column): Column = sqrt(ec2(DotF64(ee2(c), ee2(c))))
    a.crossJoin(broadcast(b)).where(col("a_id") < col("b_id"))
      .withColumn("cos", dot / (nrm(col("ae")) * nrm(col("be"))))
      .where(col("cos") >= 0.98)
      .select(col("a_id"), col("b_id"),
        floor(col("cos") * 100).cast("int").as("cos_pct"))
      .orderBy("a_id", "b_id")
  }

  private val o29 =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |mx AS (SELECT max(vec_id) + 1 AS off FROM base),
      |all_v AS (
      |  SELECT vec_id, e FROM base
      |  UNION ALL
      |  SELECT vec_id + mx.off, list_prepend(e[1] + 0.125, e[2:])
      |  FROM base, mx WHERE vec_id % 50 = 0),
      |pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         list_dot_product(a.e, b.e)
      |           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
      |  FROM all_v a, all_v b WHERE a.vec_id < b.vec_id)
      |SELECT a_id, b_id, CAST(floor(cos * 100) AS INT) AS cos_pct
      |FROM pairs WHERE cos >= 0.98 ORDER BY 1, 2""".stripMargin

  /** Multi-table LSH approximate nearest neighbours (scale path for q16):
    * 16-bit buckets keep per-bucket candidates ~N/65k at any N; 8 tables
    * + 1-bit probes carry recall. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    graft.functions.Ann.lshTopK(t(s, dir, "embeddings"), col("vec_id") % 100 === 0, 10, 64,
        nPlanes = 16, nTables = 8)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")

  /** IVF ANN (k-means coarse quantizer + nProbe lists): the
    * data-dependent scale path beside q27's data-independent LSH.
    * Recall vs brute force asserted in OperatorsSpec. */
  private def q28(s: SparkSession, dir: String): DataFrame =
    graft.functions.Ann.ivfTopK(t(s, dir, "embeddings"), col("vec_id") % 100 === 0, 10, 64,
        nList = 32, nProbe = 8)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")

  /** o27/o28: the exact fp64 cosine rerank + top-k window + neighbor_id
    * tiebreak re-run in DuckDB over the engine's OWN candidate sidecar
    * ([[Sidecars]]; candidate generation is hash/quantizer machinery no
    * SQL engine can replicate — its recall is a unit-test property — but
    * given the same candidates the final ranking must agree bit-for-bit;
    * the fp64 fold ≡ list_dot_product equivalence is proven by q16). */
  private def annRerankOracle(candPath: String): String =
    s"""WITH cand AS (SELECT query_id, neighbor_id FROM read_parquet('$candPath/*.parquet')),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         row_number() OVER (PARTITION BY c.query_id
       |           ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |             / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       |                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) DESC,
       |           c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN embeddings q ON q.vec_id = c.query_id
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM scored WHERE rank <= 10 ORDER BY 1, 2""".stripMargin

  private lazy val o27 = annRerankOracle(Sidecars.annLshPath)
  private lazy val o28 = annRerankOracle(Sidecars.annIvfPath)

  /** Multimodal: probe + per-frame features over the synthetic video table. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import graft.media._
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val vids = SyntheticMedia.videos(s, 24)
    vids.select(col("media_id"), ec(ProbeMedia(ee(col("bytes")))).as("meta"),
        explode(ec(SampleFrames(ee(col("bytes")), 4))).as("frame"))
      .select(col("media_id"), col("meta.n_frames").as("n_frames"),
        ec(FrameFeatures(ee(col("frame")))).as("features"))
      .select(col("media_id"), col("n_frames"),
        round(element_at(col("features"), 1), 4).as("mean_b"),
        round(element_at(col("features"), 2), 4).as("mean_g"))
      .orderBy("media_id", "mean_b")
  }

  /** Oracle over the decoded-pixel sidecar ([[Sidecars.framePixelsPath]]):
    * recomputes the per-frame channel means, rounding and ordering from
    * raw pixels. Channel sums are exact integers and npix = 2^k, so the
    * mean division is bit-exact in both engines. */
  private lazy val o36 =
    s"""WITH f AS (
       |  SELECT media_id, frame_idx, any_value(n_frames) AS n_frames,
       |         CAST(sum(b) AS DOUBLE) / count(*) AS mb,
       |         CAST(sum(g) AS DOUBLE) / count(*) AS mg
       |  FROM read_parquet('${Sidecars.framePixelsPath}/*.parquet')
       |  GROUP BY 1, 2)
       |SELECT media_id, CAST(n_frames AS INT) AS n_frames,
       |       round(mb, 4) AS mean_b, round(mg, 4) AS mean_g
       |FROM f ORDER BY media_id, round(mb, 4)""".stripMargin

  /** Multimodal: audio RMS / zero-crossing features via the native
    * [[graft.media.AudioFeatures]] expression (no typed map — stays
    * inside the columnar plan beside the other media expressions). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import graft.media._
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    SyntheticMedia.audios(s, 32)
      .select(col("media_id"), ec(AudioFeatures(ee(col("bytes")))).as("f"))
      .select(col("media_id"),
        round(coalesce(col("f.rms"), lit(-1.0)), 3).as("rms"),
        round(coalesce(col("f.zcr"), lit(-1.0)), 5).as("zcr"))
      .orderBy("media_id")
  }

  /** Oracle over the PCM-sample sidecar ([[Sidecars.audioSamplesPath]]):
    * recomputes RMS and zero-crossing rate from raw int16 samples. The
    * square-sum is exact (int16^2 * 4000 << 2^53) so sqrt(sum/n) is the
    * identical IEEE operation on both sides; zcr is an exact rational
    * with odd denominator, so the 5-dp round can't straddle a half. */
  private lazy val o37 =
    s"""WITH s AS (
       |  SELECT media_id, i, sample,
       |         lag(sample) OVER (PARTITION BY media_id ORDER BY i) AS prev
       |  FROM read_parquet('${Sidecars.audioSamplesPath}/*.parquet')),
       |a AS (
       |  SELECT media_id,
       |         sqrt(CAST(sum(CAST(sample AS BIGINT) * sample) AS DOUBLE)
       |              / count(*)) AS rms,
       |         CAST(sum(CASE WHEN prev IS NOT NULL
       |                        AND ((sample >= 0) <> (prev >= 0))
       |                       THEN 1 ELSE 0 END) AS DOUBLE)
       |           / (count(*) - 1) AS zcr
       |  FROM s GROUP BY 1)
       |SELECT media_id, round(rms, 3) AS rms, round(zcr, 5) AS zcr
       |FROM a ORDER BY 1""".stripMargin

  /** As-of join: for each click event, the latest STRICTLY-prior error
    * event of the same user. Spark-first formulation: tag-union + one
    * running `last(ignoreNulls)` window over (user_id, ts) — a single
    * shuffle on user_id, no per-row range scan and no theta-join; the
    * classic scale shape for as-of/point-in-time joins (both sides
    * co-partitioned by key, one sort within partition). Ties: an error
    * at the exact click timestamp is excluded (strict <); equal-ts
    * errors resolve to the max event_id (window order tag, event_id ==
    * the oracle's ORDER BY ts DESC, event_id DESC LIMIT 1). */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("tag"), col("event_id"),
        lit(null).cast("struct<id:bigint,value:double>").as("err"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
        struct(col("event_id").as("id"), col("value")).as("err"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(errors)
      .withColumn("last_err", last(col("err"), ignoreNulls = true).over(w))
      .where(col("tag") === 0)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"),
        col("last_err.id").as("err_id"), col("last_err.value").as("err_value"))
      .orderBy("click_id")
  }

  private val o41 =
    """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      |       e.event_id AS err_id, e.value AS err_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN LATERAL (
      |  SELECT e2.event_id, e2.value FROM events e2
      |  WHERE e2.event_type = 'error' AND e2.user_id = c.user_id
      |    AND e2.ts < c.ts
      |  ORDER BY e2.ts DESC, e2.event_id DESC LIMIT 1) e ON true
      |ORDER BY 1""".stripMargin

  /** Bucketed range join: for each error event, how many of the same
    * user's clicks land in the following 5 minutes. The time axis is
    * bucketed at the window width, so each error equi-joins at most two
    * (user_id, bucket) keys and the exact interval predicate refines
    * inside the join — no BroadcastNestedLoopJoin, no all-pairs. This is
    * the 100 TB shape for interval/range joins (bucket count scales with
    * the data, AQE can skew-split hot buckets). */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val winUs = 300L * 1000000L
    // the parquet ts is TIMESTAMP_NTZ; session TZ is UTC, so the cast
    // yields the same microseconds DuckDB's epoch_us reads off the
    // naive timestamp
    val ev = t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("us").as("eus"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"),
        floor(col("us") / winUs).as("bk"))
    val probes = errors.withColumn("bk",
      explode(array(floor(col("eus") / winUs), floor(col("eus") / winUs) + 1)))
    val counts = probes.join(clicks, Seq("user_id", "bk"))
      .where(col("cus") > col("eus") && col("cus") <= col("eus") + winUs)
      .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
    errors.join(counts, Seq("event_id"), "left")
      .select(col("event_id").as("err_id"), col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("err_id")
  }

  private val o42 =
    """SELECT e.event_id AS err_id, e.user_id,
      |       (SELECT count(*) FROM events c
      |        WHERE c.event_type = 'click' AND c.user_id = e.user_id
      |          AND epoch_us(c.ts) > epoch_us(e.ts)
      |          AND epoch_us(c.ts) <= epoch_us(e.ts) + 300000000) AS n_clicks
      |FROM events e WHERE e.event_type = 'error' ORDER BY 1""".stripMargin

  /** Gopher-style repetition quality signal: fraction of duplicate word
    * trigrams per document. Narrow per-row array ops only (split /
    * transform / array_distinct stay in whole-stage codegen) — zero
    * shuffle, the cheapest possible 100 TB shape. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val nTg = size(col("tg"))
    val nDup = nTg - size(array_distinct(col("tg")))
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("tg", expr(
        """CASE WHEN size(ws) < 3 THEN cast(array() AS array<string>)
          |ELSE transform(sequence(0, size(ws) - 3),
          |               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) END""".stripMargin))
      .select(col("doc_id"), nTg.as("n_trigrams"), nDup.as("n_dup"),
        when(nTg === 0, lit(0.0))
          .otherwise(nDup.cast("double") / nTg.cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  private val o43 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id,
      |             list_transform(range(1, greatest(len(ws) - 1, 1)),
      |                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tg
      |      FROM t)
      |SELECT doc_id, CAST(len(tg) AS INT) AS n_trigrams,
      |       CAST(len(tg) - len(list_distinct(tg)) AS INT) AS n_dup,
      |       CASE WHEN len(tg) = 0 THEN 0.0
      |            ELSE CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg)
      |       END AS dup_frac
      |FROM g ORDER BY 1""".stripMargin

  /** TF/DF keyword extraction: top-3 terms per document ranked by tf/df
    * (document-frequency-normalised term frequency; ln(N/df) is monotone
    * in 1/df at fixed tf, and the integer-ratio score keeps the
    * cross-engine compare bit-exact — no libm log discrepancies).
    * groupBy + one word-keyed join + per-doc window: every stage keys on
    * a high-cardinality column, map-side partial aggregation applies. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  private val o44 =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |r AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |             row_number() OVER (PARTITION BY tf.doc_id
      |               ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.word) AS rank
      |      FROM tf JOIN df USING (word))
      |SELECT doc_id, CAST(rank AS INT) AS rank, word, tf, df FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin

  /** Benchmark decontamination (GPT-3-style): flag corpus documents that
    * share any word 5-gram with a held-out test set (doc_id % 20 == 0
    * stands in for the eval benchmark). Grams are keyed by a 64-bit md5
    * prefix so the join carries 16-byte keys, not full n-gram strings —
    * at 100 TB the distinct test-set gram hashes are benchmark-sized
    * (MBs), so they BROADCAST and the corpus side streams map-only
    * through the contains check; no corpus shuffle, no all-pairs. The
    * only exchange is the per-doc count aggregation on doc_id. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ws) - 5),
          |          i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))""".stripMargin)).as("ng"))
      .select(col("doc_id"), substring(md5(col("ng")), 1, 16).as("h"))
    val testGrams = grams.where(col("doc_id") % 20 === 0).select("h").distinct()
    val hits = grams.where(col("doc_id") % 20 =!= 0)
      .join(broadcast(testGrams), "h")
      .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
    docs.where(col("doc_id") % 20 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  private val o45 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (SELECT doc_id,
      |              unnest(list_transform(range(1, len(ws) - 3),
      |                     i -> list_aggregate(ws[i:i+4], 'string_agg', ' '))) AS ng
      |       FROM t WHERE len(ws) >= 5),
      |g AS (SELECT doc_id, substr(md5(ng), 1, 16) AS h FROM g0),
      |test AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0),
      |hits AS (SELECT doc_id, count(DISTINCT h) AS n_shared
      |         FROM g JOIN test USING (h) WHERE doc_id % 20 != 0 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
      |       CAST(coalesce(h.n_shared, 0) > 0 AS INTEGER) AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 20 != 0 ORDER BY 1""".stripMargin

  /** Deterministic content-hash train/val/test split (80/10/10): the
    * standard reproducible-pipeline splitter — assignment depends only on
    * the document bytes, so re-runs, re-shards and incremental appends
    * land each document in the same split with no state and no shuffle
    * (pure per-row projection; the cheapest 100 TB shape). */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("text")), 1, 6), 16, 10)
      .cast("long") % 100).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  private val o46 =
    """SELECT doc_id,
      |       CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 AS INTEGER) AS bucket,
      |       CASE WHEN CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 < 80 THEN 'train'
      |            WHEN CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents ORDER BY 1""".stripMargin

  /** Stratified corpus sampling at per-language rates (en 50%, fr 20%,
    * de 10%): the rebalancing step of corpus assembly. Deterministic
    * hash-threshold sampling — keep a document iff its salted content
    * hash falls under the stratum's per-cent threshold — so the whole
    * operator is a map-only projection+filter: no window, no shuffle, no
    * per-stratum reducer (a row_number-per-language design would funnel
    * each language through ONE partition at 100 TB). The salt decorrelates
    * the sampling hash from q46's split hash. Re-runs, re-shards and
    * appends keep/drop the same documents by construction. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val low = lower(col("text"))
    def hits(words: Seq[String]): Column =
      words.map(wd => size(split(low, s"\\b$wd\\b")) - 1).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is"))
    val fr = hits(Seq("le", "la", "et", "est"))
    val de = hits(Seq("der", "und", "die", "ist"))
    val lang = when(en >= fr && en >= de, "en").when(fr >= de, "fr").otherwise("de")
    val bucket = (conv(substring(md5(concat(lit("strat|"), col("text"))), 1, 6), 16, 10)
      .cast("long") % 100).cast("int")
    val rate = when(lang === "en", 50).when(lang === "fr", 20).otherwise(10)
    t(s, dir, "documents")
      .select(col("doc_id"), lang.as("lang_guess"), bucket.as("strat_bucket"),
        rate.as("rate_pct"))
      .where(col("strat_bucket") < col("rate_pct"))
      .orderBy("doc_id")
  }

  private val o49 =
    """WITH l AS (
      |  SELECT doc_id, text,
      |    len(string_split_regex(lower(text), '\bthe\b')) - 1 + len(string_split_regex(lower(text), '\band\b')) - 1
      |      + len(string_split_regex(lower(text), '\bof\b')) - 1 + len(string_split_regex(lower(text), '\bis\b')) - 1 AS en_hits,
      |    len(string_split_regex(lower(text), '\ble\b')) - 1 + len(string_split_regex(lower(text), '\bla\b')) - 1
      |      + len(string_split_regex(lower(text), '\bet\b')) - 1 + len(string_split_regex(lower(text), '\best\b')) - 1 AS fr_hits,
      |    len(string_split_regex(lower(text), '\bder\b')) - 1 + len(string_split_regex(lower(text), '\bund\b')) - 1
      |      + len(string_split_regex(lower(text), '\bdie\b')) - 1 + len(string_split_regex(lower(text), '\bist\b')) - 1 AS de_hits
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |              WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS lang_guess,
      |         CAST(CAST(('0x' || substr(md5('strat|' || text), 1, 6)) AS BIGINT) % 100 AS INTEGER) AS strat_bucket
      |  FROM l)
      |SELECT doc_id, lang_guess, strat_bucket,
      |       CASE lang_guess WHEN 'en' THEN 50 WHEN 'fr' THEN 20 ELSE 10 END AS rate_pct
      |FROM g
      |WHERE strat_bucket < CASE lang_guess WHEN 'en' THEN 50 WHEN 'fr' THEN 20 ELSE 10 END
      |ORDER BY 1""".stripMargin

  /** PII redaction: replace email addresses and phone numbers with typed
    * placeholder tokens and count what was removed — the scrub step of a
    * corpus pipeline. Pure per-row regexp projection (codegen'd, zero
    * shuffle beyond the presentation sort): the cheapest possible 100 TB
    * shape. Patterns avoid lookaround so the same regex is valid in both
    * Java regex (engine) and RE2 (oracle); counts are taken on the
    * ORIGINAL text, and replacement order (emails first) is fixed so the
    * two engines agree even if one substitution could affect the other. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
    t(s, dir, "documents").select(
      col("doc_id"),
      regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"), phone, "<PHONE>")
        .as("redacted"),
      (size(split(col("text"), email, -1)) - 1).as("n_emails"),
      (size(split(col("text"), phone, -1)) - 1).as("n_phones"))
      .orderBy("doc_id")
  }

  private val o48 =
    """SELECT doc_id,
      |       regexp_replace(regexp_replace(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted,
      |       CAST(len(regexp_split_to_array(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS INTEGER) AS n_emails,
      |       CAST(len(regexp_split_to_array(text, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) - 1 AS INTEGER) AS n_phones
      |FROM documents ORDER BY 1""".stripMargin

  /** Dedup cluster assignment: connected components over the SimHash
    * near-dup pair graph (q24's edges), labelling every document with the
    * minimum doc_id of its duplicate cluster — the step that turns
    * candidate PAIRS into a keep/drop decision (`keep` = the canonical
    * min-id member). Iterative min-label propagation with pointer
    * jumping ([[graft.functions.ConnectedComponents]]): O(log d) rounds
    * of plain keyed shuffles, no driver-side graph state — the 100 TB
    * shape for transitive dedup, where a duplicate CHAIN (a~b~c with a,c
    * not directly paired) must still collapse to one cluster. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents").select(col("doc_id").as("id"))
    val edges = simhashPairs(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val comps = graft.functions.ConnectedComponents.run(nodes, edges)
    val sizes = comps.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("label")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** o47: o24's full simhash/banding/hamming derivation feeding a
    * recursive min-label closure — with symmetric edges, the set of
    * labels reachable from a node spans its whole component, so
    * min(lbl) is the component minimum. */
  private val o47 =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
      |th AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
      |votes AS (
      |  SELECT doc_id, bits.b AS b,
      |         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(64)) AS b) bits
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END) AS UBIGINT) AS u
      |  FROM votes GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, u, bd.band AS band, (u >> (bd.band * 16)) & 65535 AS bucket
      |  FROM sh, (SELECT unnest(range(4)) AS band) bd),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.u, b.u)) <= 16),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |cc(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.id),
      |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY 1),
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
      |SELECT l.doc_id, l.cluster_id, s.cluster_size,
      |       CAST(l.doc_id = l.cluster_id AS INTEGER) AS keep
      |FROM lab l JOIN sz s USING (cluster_id) ORDER BY 1""".stripMargin

  /** Training-sequence packing (GPT-style): concatenate the corpus token
    * stream in doc_id order and cut it every `seqLen` tokens; each doc
    * reports its global start offset and the first/last sequence it
    * lands in. The global running token total comes from
    * [[graft.functions.PrefixSum]] — a two-pass distributed scan
    * (range-bucket local cumsums + O(P) broadcast offsets) instead of
    * the single-partition `Window.orderBy` that would serialize the
    * whole corpus through one task. At 100 TB this is the step that
    * turns a filtered corpus into fixed-length training rows. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val seqLen = 512L
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // `div`, not `/`: Spark's `/` is double division, which drops token
    // offsets past 2^53 — a real corpus overflows that
    graft.functions.PrefixSum.runningTotal(toks, "doc_id", "n_tokens", "running")
      .select(col("doc_id"), col("n_tokens"),
        (col("running") - col("n_tokens")).as("start_offset"),
        expr(s"(running - n_tokens) div ${seqLen}L").as("seq_first"),
        expr(s"(running - 1) div ${seqLen}L").as("seq_last"))
      .orderBy("doc_id")
  }

  private val o50 =
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |run AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS running
      |  FROM toks)
      |SELECT doc_id, n_tokens,
      |       running - n_tokens AS start_offset,
      |       (running - n_tokens) // 512 AS seq_first,
      |       (running - 1) // 512 AS seq_last
      |FROM run ORDER BY 1""".stripMargin

  /** Tokenizer-vocabulary coverage: build the top-V corpus vocabulary by
    * global word frequency (count desc, word asc — fully deterministic)
    * and score every document's out-of-vocabulary token count — the
    * coverage filter run before committing to a tokenizer. Shapes: the
    * word-count groupBy partial-aggregates map-side; top-V is a V-row
    * driver-bounded limit that BROADCASTS back; the corpus side then
    * streams map-only through the membership probe, and the only other
    * exchange is the per-doc count agg. V is a knob, never data-sized. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val vocabSize = 24
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(vocabSize)
      .select(col("word"), lit(1).as("in_vocab"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy("doc_id")
  }

  private val o51 =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (
      |  SELECT word FROM (
      |    SELECT word, count(*) AS cnt,
      |           row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rn
      |    FROM words GROUP BY word) WHERE rn <= 24)
      |SELECT w.doc_id, count(*) AS n_tokens,
      |       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |FROM words w LEFT JOIN vocab v ON w.word = v.word
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order (Morton) spatial layout key ([[graft.index.ZOrder]]): the
    * data-LAYOUT half of the 100 TB tile-catalog story — write the
    * catalog range-partitioned + sorted on this key and parquet min/max
    * stats prune any 2-D bounding-box scan to O(perimeter) files. Pure
    * shift/AND/OR column arithmetic (whole-stage codegen, zero shuffle
    * beyond the presentation sort); the oracle re-derives the magic-number
    * bit spreading in DuckDB 64-bit integer SQL. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val en = t(s, dir, "lineitem")
      .select((col("l_orderkey") % 700).cast("long").as("e"),
        (col("l_partkey") % 1300).cast("long").as("n"))
      .distinct()
    en.select(col("e"), col("n"),
        graft.index.ZOrder.key(col("e"), col("n")).as("zkey"))
      .orderBy("zkey", "e", "n")
  }

  private val o52 =
    """WITH en AS (
      |  SELECT DISTINCT CAST(l_orderkey % 700 AS BIGINT) AS e,
      |                  CAST(l_partkey % 1300 AS BIGINT) AS n
      |  FROM lineitem),
      |s1 AS (SELECT e, n, ((e | (e << 8)) & 16711935) AS ex,
      |                    ((n | (n << 8)) & 16711935) AS nx FROM en),
      |s2 AS (SELECT e, n, ((ex | (ex << 4)) & 252645135) AS ex,
      |                    ((nx | (nx << 4)) & 252645135) AS nx FROM s1),
      |s3 AS (SELECT e, n, ((ex | (ex << 2)) & 858993459) AS ex,
      |                    ((nx | (nx << 2)) & 858993459) AS nx FROM s2),
      |s4 AS (SELECT e, n, ((ex | (ex << 1)) & 1431655765) AS ex,
      |                    ((nx | (nx << 1)) & 1431655765) AS nx FROM s3)
      |SELECT e, n, (ex | (nx << 1)) AS zkey FROM s4 ORDER BY 3, 1, 2""".stripMargin

  /** Benchmark decontamination, BLOOM-accelerated ([[graft.functions.Bloom]]):
    * q45's exact semantics with the 100 TB plan — a ~1.2 byte/key bloom
    * filter of the test-set gram hashes probes every corpus gram MAP-SIDE
    * (native codegen'd expression) and drops ~99% of rows before any
    * exchange; the surviving sliver then takes the exact confirm join, so
    * false positives never reach the output. The answer is identical to
    * the plain join by construction (no false negatives) — o53 is the
    * same SQL as o45 over the wider 60-bit gram hash, with no bloom in
    * sight. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ws) - 5),
          |          i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))""".stripMargin)).as("ng"))
      .select(col("doc_id"),
        conv(substring(md5(col("ng")), 1, 15), 16, 10).cast("long").as("h"))
    // benchmark-sized by contract; eagerly materialized because it has
    // THREE consumers (the sizing count, the bloom build, the exact
    // confirm join) — without the checkpoint each re-derives the
    // test-side gram scan
    val testGrams = grams.where(col("doc_id") % 20 === 0).select("h").distinct()
      .localCheckpoint(true)
    val bf = graft.functions.Bloom.filterOf(testGrams, "h", fpp = 0.01)
    val hits = grams.where(col("doc_id") % 20 =!= 0)
      .where(graft.functions.Bloom.mightContain(col("h"), bf))
      .join(broadcast(testGrams), "h")
      .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
    docs.where(col("doc_id") % 20 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  private val o53 =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (SELECT doc_id,
      |              unnest(list_transform(range(1, len(ws) - 3),
      |                     i -> list_aggregate(ws[i:i+4], 'string_agg', ' '))) AS ng
      |       FROM t WHERE len(ws) >= 5),
      |g AS (SELECT doc_id, CAST(('0x' || substr(md5(ng), 1, 15)) AS BIGINT) AS h FROM g0),
      |test AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0),
      |hits AS (SELECT doc_id, count(DISTINCT h) AS n_shared
      |         FROM g JOIN test USING (h) WHERE doc_id % 20 != 0 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
      |       CAST(coalesce(h.n_shared, 0) > 0 AS INTEGER) AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 20 != 0 ORDER BY 1""".stripMargin

  /** Mixture upsampling: replicate each document a deterministic
    * FRACTIONAL number of times per language stratum (en 1.0×, fr 2.5×,
    * de 3.25×) — the domain-reweighting step of training-corpus assembly
    * (e.g. upweighting a high-quality source). copies = floor(w) + one
    * extra iff the salted content hash falls under frac(w): map-only
    * projection + explode, no shuffle, and re-runs/re-shards/appends
    * replicate the same documents by construction. The salt decorrelates
    * this hash from q46's split and q49's sampling hashes, so the three
    * decisions are independent. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val low = lower(col("text"))
    def hits(words: Seq[String]): Column =
      words.map(wd => size(split(low, s"\\b$wd\\b")) - 1).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is"))
    val fr = hits(Seq("le", "la", "et", "est"))
    val de = hits(Seq("der", "und", "die", "ist"))
    val lang = when(en >= fr && en >= de, "en").when(fr >= de, "fr").otherwise("de")
    val u = (conv(substring(md5(concat(lit("mix|"), col("text"))), 1, 6), 16, 10)
      .cast("long") % 10000).cast("int")
    val base = when(lang === "en", 1).when(lang === "fr", 2).otherwise(3)
    val thr = when(lang === "en", 0).when(lang === "fr", 5000).otherwise(2500)
    val copies = (base + (u < thr).cast("int")).as("n_copies")
    t(s, dir, "documents")
      .select(col("doc_id"), lang.as("lang_guess"), copies)
      .select(col("doc_id"), col("lang_guess"), col("n_copies"),
        explode(sequence(lit(0), col("n_copies") - 1)).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  private val o54 =
    """WITH l AS (
      |  SELECT doc_id, text,
      |    len(string_split_regex(lower(text), '\bthe\b')) - 1 + len(string_split_regex(lower(text), '\band\b')) - 1
      |      + len(string_split_regex(lower(text), '\bof\b')) - 1 + len(string_split_regex(lower(text), '\bis\b')) - 1 AS en_hits,
      |    len(string_split_regex(lower(text), '\ble\b')) - 1 + len(string_split_regex(lower(text), '\bla\b')) - 1
      |      + len(string_split_regex(lower(text), '\bet\b')) - 1 + len(string_split_regex(lower(text), '\best\b')) - 1 AS fr_hits,
      |    len(string_split_regex(lower(text), '\bder\b')) - 1 + len(string_split_regex(lower(text), '\bund\b')) - 1
      |      + len(string_split_regex(lower(text), '\bdie\b')) - 1 + len(string_split_regex(lower(text), '\bist\b')) - 1 AS de_hits
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |              WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS lang_guess,
      |         CAST(CAST(('0x' || substr(md5('mix|' || text), 1, 6)) AS BIGINT) % 10000 AS INTEGER) AS u
      |  FROM l),
      |c AS (
      |  SELECT doc_id, lang_guess,
      |         (CASE lang_guess WHEN 'en' THEN 1 WHEN 'fr' THEN 2 ELSE 3 END)
      |           + CASE WHEN u < (CASE lang_guess WHEN 'en' THEN 0 WHEN 'fr' THEN 5000 ELSE 2500 END)
      |                  THEN 1 ELSE 0 END AS n_copies
      |  FROM g)
      |SELECT doc_id, lang_guess, n_copies,
      |       CAST(unnest(range(n_copies)) AS INTEGER) AS copy_idx
      |FROM c ORDER BY 1, 4""".stripMargin

  /** The synthetic tile table's per-image quality statistics
    * ([[graft.media.ImageQualityStats]]: exposure / contrast /
    * variance-of-Laplacian blur score) — pure projection; written to
    * [[Sidecars.imageStatsPath]] by Verify's setup so the q55 oracle can
    * verify the FILTER algebra over the exact engine-computed statistics
    * (no SQL engine can decode the tiles; the kernel itself is pinned by
    * hand-computed unit goldens). Deterministic fp: single sequential
    * accumulation pass per image. */
  private[graft] def imageStatsBase(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val (gw, gh, _) = syntheticScale(dir)
    Synthetic.tiles(s, gw, gh, 64)
      .select(col("image_id"),
        ec(graft.media.ImageQualityStats(ee(col("bytes")))).as("st"))
      .select(col("image_id"), col("st.mean_lum").as("mean_lum"),
        col("st.contrast").as("contrast"), col("st.sharpness").as("sharpness"))
  }

  /** Image-quality curation filter: flag under/over-exposed, flat and
    * blurry captures and emit the keep decision — the image-modality
    * analogue of q13's text quality score. Map-only over the decode
    * projection (the stats expression rides the same shared decode pass
    * as the other per-tile ops). The blur/contrast thresholds sit inside
    * the synthetic table's real spread (sharpness 1000-1350, contrast
    * 7.2-8.2) so both outcomes occur at every scale factor; the exposure
    * flags keep standard absolute semantics (a well-exposed synthetic
    * corpus rightly never trips them — the kernel's response to dark/
    * bright inputs is pinned by the KernelSpec goldens instead). */
  private def q55(s: SparkSession, dir: String): DataFrame =
    imageStatsBase(s, dir).select(col("image_id"),
        (col("sharpness") < 1100.0).cast("int").as("blurry"),
        (col("mean_lum") < 90.0).cast("int").as("too_dark"),
        (col("mean_lum") > 170.0).cast("int").as("too_bright"),
        (col("contrast") < 7.5).cast("int").as("low_contrast"))
      .withColumn("keep",
        (col("blurry") + col("too_dark") + col("too_bright") + col("low_contrast") === 0)
          .cast("int"))
      .orderBy("image_id")

  private lazy val o55 =
    s"""SELECT image_id,
       |       CAST(sharpness < 1100.0 AS INTEGER) AS blurry,
       |       CAST(mean_lum < 90.0 AS INTEGER) AS too_dark,
       |       CAST(mean_lum > 170.0 AS INTEGER) AS too_bright,
       |       CAST(contrast < 7.5 AS INTEGER) AS low_contrast,
       |       CAST(CAST(sharpness < 1100.0 AS INTEGER) + CAST(mean_lum < 90.0 AS INTEGER)
       |            + CAST(mean_lum > 170.0 AS INTEGER) + CAST(contrast < 7.5 AS INTEGER) = 0
       |            AS INTEGER) AS keep
       |FROM read_parquet('${Sidecars.imageStatsPath}/*.parquet')
       |ORDER BY 1""".stripMargin

  /** Overlapping document chunking (chunk 128 tokens, stride 96 → 32-token
    * overlap): the windowing step before embedding / context-window
    * training. Pure map-only projection + explode — chunk boundaries
    * depend only on the row, so the operator re-shards freely and the
    * cheapest 100 TB shape holds. Last chunk truncates at the document
    * end; every document yields >= 1 chunk. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val chunk = 128; val stride = 96
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L),
          expr(s"(n_tokens + ${stride - 1}) div ${stride}L - 1"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(chunk.toLong), col("n_tokens") - col("chunk_idx") * stride).as("n_tok"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val o57 =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, n, unnest(range((n + 95) // 96)) AS chunk_idx FROM t)
      |SELECT doc_id, chunk_idx, chunk_idx * 96 AS start_tok,
      |       least(128, n - chunk_idx * 96) AS n_tok
      |FROM c ORDER BY 1, 2""".stripMargin

  /** Deterministic global training-shuffle order: every document gets its
    * permutation POSITION under a salted content-hash ordering — the
    * "shuffle the corpus reproducibly" step before epoch sharding.
    * Distributed via [[graft.functions.PrefixSum]] (range-bucket scan +
    * O(P) broadcast offsets) over the hash key — a bare
    * `row_number() OVER (ORDER BY hash)` would funnel the corpus through
    * ONE task (SinglePartition exchange); hash keys are uniform so the
    * equal-width buckets balance perfectly. 60-bit md5-prefix keys make
    * ties (which would make the position nondeterministic) vanishingly
    * improbable at any corpus size. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .select(col("doc_id"),
        conv(substring(md5(concat(lit("shuf|"), col("text"))), 1, 15), 16, 10)
          .cast("long").as("k"))
      .withColumn("one", lit(1L))
    graft.functions.PrefixSum.runningTotal(keyed, "k", "one", "pos")
      .select(col("doc_id"), (col("pos") - 1).as("shuffle_pos"))
      .orderBy("doc_id")
  }

  private val o58 =
    """SELECT doc_id,
      |       row_number() OVER (
      |         ORDER BY CAST(('0x' || substr(md5('shuf|' || text), 1, 15)) AS BIGINT))
      |         - 1 AS shuffle_pos
      |FROM documents ORDER BY 1""".stripMargin

  /** toid->uprn explode over the flagship output (S8). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    VegPipeline.toid2uprn(flagshipFrame(s, dir)).orderBy("feature_id", "uprn")

  private lazy val o33 =
    s"""SELECT id AS feature_id, unnest(uprn) AS uprn
       |FROM read_parquet('${Sidecars.vegPath}/*.parquet')
       |ORDER BY 1, 2""".stripMargin

  /** Cross-document duplicate-span detection (exact-substring dedup in
    * the style of "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, arXiv:2107.06499): hash every 8-token
    * window; a window seen in >= 2 DISTINCT documents marks its span as
    * duplicated, and each document reports its duplicated-window count
    * and fraction — the per-doc signal used to cut boilerplate and
    * cross-site mirrored spans out of a pretraining corpus.
    *
    * Scale shape: the map stage reduces text to 60-bit window keys, so
    * no strings ever cross an exchange; then (key,doc) counts, the
    * >=2-docs flag, and the flag join are two hash aggregations plus one
    * equi-join on the key — all partial-agg friendly, nothing all-pairs.
    * Suffix-array approaches find arbitrary-length spans; fixed-w
    * windows are the shuffle-friendly approximation (a duplicated span
    * of length L >= w is flagged by all its L-w+1 windows). */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val wins = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= w)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(ws) - $w),
           |          i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, $w))), 1, 15), 16, 10) as bigint))""".stripMargin))
        .as("h"))
    val perDoc = wins.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
    val dupKeys = perDoc.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("h")
    val dup = perDoc.join(dupKeys, "h")
      .groupBy("doc_id").agg(sum("c").as("n_dup"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - (w - 1), lit(0)).cast("long").as("n_windows"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("n_dup_windows", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(col("n_dup_windows").cast("double") / col("n_windows").cast("double")))
      .select("doc_id", "n_windows", "n_dup_windows", "dup_frac")
      .orderBy("doc_id")
  }

  private val o60 =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |w AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(array_to_string(
      |                list_slice(ws, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')), 1, 15))
      |              AS BIGINT) AS h
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8)),
      |pd AS (SELECT h, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
      |nd AS (SELECT h FROM pd GROUP BY h HAVING count(*) >= 2),
      |dup AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_dup FROM pd JOIN nd USING (h) GROUP BY 1)
      |SELECT d2.doc_id,
      |       greatest(CAST(len(string_split(d2.text, ' ')) - 7 AS BIGINT), 0) AS n_windows,
      |       COALESCE(dup.n_dup, 0) AS n_dup_windows,
      |       CASE WHEN greatest(len(string_split(d2.text, ' ')) - 7, 0) = 0 THEN 0.0
      |            ELSE CAST(COALESCE(dup.n_dup, 0) AS DOUBLE)
      |                 / (len(string_split(d2.text, ' ')) - 7) END AS dup_frac
      |FROM documents d2 LEFT JOIN dup USING (doc_id) ORDER BY 1""".stripMargin

  /** Shared bigram projection for q61/q64: (doc_id, gram text). Each
    * consumer picks its own key hash — q61 a cheap xxhash64 (internal to
    * the sketch prefilter, collisions only overcount), q64 the md5
    * prefix its oracle re-derives — so neither pays for the other's. */
  private def bigrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))")).as("gram"))

  /** Exact heavy-hitter phrases (bigrams with frequency >= total/1024),
    * computed with a count-min-sketch prefilter: pass 1 builds a tiny
    * mergeable sketch map-only (its totalCount also supplies the
    * threshold denominator — no separate count job); pass 2 drops
    * sub-threshold grams MAP-SIDE via the sketch probe (which never
    * undercounts → no false negatives) so the exact GROUP BY ... HAVING
    * only shuffles plausible candidates. Identical answer to the naive
    * plan — the oracle and the OperatorsSpec equality test pin that —
    * but the exchange no longer carries the long tail, which at 100 TB
    * is billions of singleton n-grams. See [[graft.functions.Cms]]. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val grams = bigrams(s, dir).withColumn("h", xxhash64(col("gram")))
    val cms = graft.functions.Cms.sketchOf(grams, "h")
    val thresh = math.max(cms.totalCount() / 1024L, 1L)
    grams.where(graft.functions.Cms.estimate(col("h"), cms) >= thresh)
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= thresh)
      .orderBy(col("cnt").desc, col("gram"))
  }

  private val o61 =
    """WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)] AS gram
      |  FROM (SELECT ws, unnest(range(len(ws) - 1)) AS i FROM ws WHERE len(ws) >= 2)),
      |tot AS (SELECT count(*) AS n FROM g)
      |SELECT gram, cnt FROM (
      |  SELECT gram, count(*) AS cnt, any_value(n) AS n
      |  FROM g, tot GROUP BY gram)
      |WHERE cnt >= greatest(n // 1024, 1)
      |ORDER BY cnt DESC, gram""".stripMargin

  /** Time-series gap-fill + forward-fill resample: per-user hourly event
    * rollup densified onto the full hour grid between that user's first
    * and last event, empty hours zero-counted and the last observed
    * value carried forward — the regularization step before windowed
    * feature extraction on irregular event streams. Scale shape: the
    * grid explode is bounded per user (span/step rows, no cross join);
    * the fill window partitions by user_id so no SinglePartition
    * exchange appears; the grid⋈rollup join is an equi-join on
    * (user_id, hour) that AQE plans locally after the same-key
    * aggregations. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hr = t(s, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"), col("value"))
      .groupBy("user_id", "h")
      .agg(count(lit(1)).as("n"), max("value").as("v"))
    val grid = hr.groupBy("user_id")
      .agg(min("h").as("mn"), max("h").as("mx"))
      .select(col("user_id"), explode(expr("sequence(mn, mx, interval 1 hour)")).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hr, Seq("user_id", "h"), "left")
      .withColumn("v_fill", last(col("v"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("h").as("hour_ts"),
        coalesce(col("n"), lit(0L)).as("n_events"), col("v_fill"))
      .orderBy("user_id", "hour_ts")
  }

  private val o62 =
    """WITH hr AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n, max(value) AS v
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM hr GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
      |j AS (SELECT g.user_id, g.h, hr.n, hr.v
      |      FROM grid g LEFT JOIN hr ON hr.user_id = g.user_id AND hr.h = g.h)
      |SELECT user_id, h AS hour_ts, COALESCE(n, 0) AS n_events,
      |       last_value(v IGNORE NULLS) OVER (
      |         PARTITION BY user_id ORDER BY h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
      |FROM j ORDER BY 1, 2""".stripMargin

  /** Exact corpus quantile profile (p25/p50/p75/p95/p99 of document
    * length) — the stats pass that calibrates quality-filter thresholds.
    * A naive `row_number() OVER (ORDER BY ...)` ranks N rows through one
    * task; instead the distribution is collapsed to a VALUE HISTOGRAM
    * (distinct-value sized, not corpus sized), [[graft.functions.PrefixSum]]
    * turns it into exact cumulative counts distributed, and each target
    * rank r = ceil(p*N/100) (integer arithmetic — no fp boundary flakes)
    * picks its quantile as min(value | cum >= r) via a 5-row broadcast
    * theta-join. Per-row work never leaves the map stage. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("n_chars"))
    // one corpus pass: the histogram both yields the total row count
    // (Σ cnt ≡ count(*)) and feeds the distributed prefix sum — the
    // former separate docs.count() was a second full scan
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // an empty corpus sums to null: zero rows, so every target rank is 0
    val total = hist.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val cum = graft.functions.PrefixSum.runningTotal(hist, "n_chars", "cnt", "cum")
    val targets = Seq(25, 50, 75, 95, 99).map(p => (p, (p * total + 99) / 100))
    val tdf = s.createDataFrame(targets).toDF("pct", "rank")
    cum.join(broadcast(tdf), col("cum") >= col("rank"))
      .groupBy("pct", "rank").agg(min("n_chars").as("value"))
      .orderBy("pct")
  }

  private val o63 =
    """WITH t AS (SELECT count(*) AS n FROM documents),
      |tg AS (SELECT unnest([25, 50, 75, 95, 99]) AS pct),
      |r AS (SELECT pct, CAST((pct * n + 99) // 100 AS BIGINT) AS rank FROM tg, t),
      |o AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rk FROM documents)
      |SELECT pct, rank, (SELECT n_chars FROM o WHERE o.rk = r.rank) AS value
      |FROM r ORDER BY pct""".stripMargin

  /** Statistical LM quality score (CCNet-style perplexity filtering,
    * integer-quantized): train bigram counts over the corpus itself, then
    * score each document by the summed integer log2 of its bigrams'
    * corpus frequencies — floor(log2 c) computed as length(bin(c)) - 1,
    * pure integer/string arithmetic, so the score is bit-identical on
    * any engine (a float ln() would differ in the last ulp between
    * libm implementations and flake a decimal-summed oracle). High
    * bits_per_gram = statistically typical text; garbage/rare token
    * salad scores near the floor. Scale shape: the "training" is one
    * hash aggregation over 60-bit gram keys; scoring is an equi-join of
    * the gram stream against the count table on the same key (both
    * sides already partitioned by it) plus a per-doc sum — no strings
    * past the map stage, no driver-side model. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val grams = bigrams(s, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
    val lm = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .select(col("h"), (length(expr("bin(c)")) - 1).cast("long").as("bits"))
    val scored = grams.join(lm, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("nb"), sum("bits").as("score"))
    t(s, dir, "documents").select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("nb"), lit(0L)))
      .withColumn("lm_score", coalesce(col("score"), lit(0L)))
      .withColumn("bits_per_gram",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("lm_score").cast("double") / col("n_bigrams").cast("double")))
      .select("doc_id", "n_bigrams", "lm_score", "bits_per_gram")
      .orderBy("doc_id")
  }

  private val o64 =
    """WITH g AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)]), 1, 15))
      |              AS BIGINT) AS h
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |        WHERE len(ws) >= 2)),
      |lm AS (SELECT h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS bits FROM g GROUP BY 1),
      |sc AS (SELECT doc_id, count(*) AS nb, CAST(sum(bits) AS BIGINT) AS score
      |       FROM g JOIN lm USING (h) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(nb, 0) AS n_bigrams, COALESCE(score, 0) AS lm_score,
      |       CASE WHEN COALESCE(nb, 0) = 0 THEN 0.0
      |            ELSE CAST(score AS DOUBLE) / nb END AS bits_per_gram
      |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin

  /** Int8 scalar quantization of the embedding column (the compression
    * step before shipping vectors to an ANN index or training shard):
    * per-vector min/max affine map onto 0..255 codes, reported as
    * integer code statistics (sum, zero/saturated counts) so the oracle
    * compare is exact. All arithmetic is per-row higher-order array
    * functions — map-only, no shuffle but the presentation sort; fp64
    * op order is written identically in the SQL (the proven
    * list_dot_product ≡ fold pattern, q16) so floor() sees bit-identical
    * doubles on both engines. */
  private def q65(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("mn", array_min(col("e")))
      .withColumn("mx", array_max(col("e")))
      .withColumn("codes", expr(
        """transform(e, x -> CASE WHEN mx = mn THEN 0L
          |  ELSE least(255L, greatest(0L, floor((x - mn) * 255.0 / (mx - mn)))) END)""".stripMargin))
      .select(col("vec_id"), size(col("e")).cast("long").as("n_dims"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("sum_code"),
        expr("size(filter(codes, c -> c = 0L))").cast("long").as("n_zero"),
        expr("size(filter(codes, c -> c = 255L))").cast("long").as("n_sat"))
      .orderBy("vec_id")

  private val o65 =
    """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM b),
      |c AS (SELECT vec_id, e,
      |             list_transform(e, x -> CASE WHEN mx = mn THEN 0
      |               ELSE least(255, greatest(0, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))) END) AS codes
      |      FROM m)
      |SELECT vec_id, CAST(len(e) AS BIGINT) AS n_dims,
      |       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS sum_code,
      |       CAST(len(list_filter(codes, x -> x = 0)) AS BIGINT) AS n_zero,
      |       CAST(len(list_filter(codes, x -> x = 255)) AS BIGINT) AS n_sat
      |FROM c ORDER BY vec_id""".stripMargin

  /** The q66 coarse quantizer: deterministic spherical k-means (bounded
    * hash-ordered sample, fixed seed path — [[graft.functions.Ann.trainIvfCentroids]]),
    * shared by the query and the [[Sidecars]] centroid dump. Memoized
    * per dataset dir — training is deterministic and the testdata dirs
    * are immutable, so q66/q101/q102 and the sidecar dump share one
    * sample-collect + Lloyd run per JVM instead of re-training each. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private[graft] def kmeansCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(dir, _ =>
      graft.functions.Ann.trainIvfCentroids(
        t(s, dir, "embeddings"), dim = 64, nList = 16))

  /** Semantic cluster assignment (the batch k-means-inference shape used
    * for corpus bucketing / semantic dedup prefilters): every vector
    * tagged with its nearest of 16 spherical-k-means centroids by dot
    * product (cosine order — centroids are unit-norm). One narrow
    * map-only pass over the vectors via the [[graft.functions.IvfLists]]
    * native expression; the centroid matrix is coarse-quantizer-sized
    * (16×64 doubles) and rides the plan. The oracle re-derives the
    * argmax + smaller-cluster tiebreak in SQL over the centroid sidecar
    * — given the same centroids, assignment must agree bit-for-bit. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val cents = kmeansCentroids(s, dir)
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        element_at(ec(graft.functions.IvfLists(ee(col("embedding")), cents, 1)), 1)
          .cast("int").as("cluster"))
      .orderBy("vec_id")
  }

  private lazy val o66 =
    s"""SELECT vec_id, cluster FROM (
       |  SELECT e.vec_id, c.cluster,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) DESC,
       |                    c.cluster) AS rn
       |  FROM embeddings e, read_parquet('${Sidecars.kmeansCentroidsPath}/*.parquet') c)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** The q67 augmentation input: a deterministic ~1/6 subset of the
    * synthetic tile table (bounded, so the raw-pixel oracle sidecar stays
    * small), shared by the query and [[Sidecars.writeAll]]. */
  private[graft] def augmentTiles(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, _) = syntheticScale(dir)
    Synthetic.tiles(s, gw, gh, 64)
      .where(pmod(xxhash64(col("image_id")), lit(6L)) === 0L)
      .select("image_id", "bytes")
  }

  /** Deterministic image augmentation (rot90/180/270, mirror flips,
    * central crop — the spatial-transform family of a vision ingest
    * pipeline) over the bounded tile subset, each output summarized by a
    * position-weighted integer pixel checksum. The transforms are pure
    * pixel permutations/subsets ([[graft.img.Augment]]) so the oracle
    * re-derives the full source→destination coordinate map in SQL over
    * the raw-pixel sidecar — wsum pins the EXACT permutation, not just
    * the value multiset. Map-only per-row expressions (decode → permute
    * → PNG encode → checksum); at catalog scale this is the same
    * narrow-projection shape as the phash/quality passes. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import graft.img.{Augment, AugmentImage, PixelChecksum}
    augmentTiles(s, dir)
      .select(col("image_id"),
        explode(array(Augment.kinds.map(lit): _*)).as("aug"), col("bytes"))
      .select(col("image_id"), col("aug"),
        ec(PixelChecksum(AugmentImage(ee(col("bytes")), ee(col("aug"))))).as("ck"))
      .select(col("image_id"), col("aug"),
        col("ck.w").as("w"), col("ck.h").as("h"),
        col("ck.sum_b").as("sum_b"), col("ck.sum_g").as("sum_g"),
        col("ck.sum_r").as("sum_r"), col("ck.wsum").as("wsum"))
      .orderBy("image_id", "aug")
  }

  private lazy val o67 =
    s"""WITH px AS (SELECT * FROM read_parquet('${Sidecars.augPixelsPath}/*.parquet')),
       |dim AS (SELECT image_id, CAST(max(x) + 1 AS INT) AS w, CAST(max(y) + 1 AS INT) AS h
       |        FROM px GROUP BY 1),
       |augs AS (SELECT unnest(['crop_c', 'flip_h', 'flip_v', 'rot180', 'rot270', 'rot90']) AS aug),
       |m AS (
       |  SELECT p.image_id, a.aug,
       |    CASE a.aug WHEN 'rot90' THEN d.h WHEN 'rot270' THEN d.h
       |               WHEN 'crop_c' THEN d.w // 2 ELSE d.w END AS nw,
       |    CASE a.aug WHEN 'rot90' THEN d.w WHEN 'rot270' THEN d.w
       |               WHEN 'crop_c' THEN d.h // 2 ELSE d.h END AS nh,
       |    CASE a.aug WHEN 'rot90' THEN p.x WHEN 'rot180' THEN d.h - 1 - p.y
       |               WHEN 'rot270' THEN d.w - 1 - p.x WHEN 'flip_h' THEN p.y
       |               WHEN 'flip_v' THEN d.h - 1 - p.y ELSE p.y - d.h // 4 END AS ny,
       |    CASE a.aug WHEN 'rot90' THEN d.h - 1 - p.y WHEN 'rot180' THEN d.w - 1 - p.x
       |               WHEN 'rot270' THEN p.y WHEN 'flip_h' THEN d.w - 1 - p.x
       |               WHEN 'flip_v' THEN p.x ELSE p.x - d.w // 4 END AS nx,
       |    p.b, p.g, p.rr
       |  FROM px p JOIN dim d USING (image_id) CROSS JOIN augs a)
       |SELECT image_id, aug, CAST(any_value(nw) AS INT) AS w, CAST(any_value(nh) AS INT) AS h,
       |       CAST(sum(b) AS BIGINT) AS sum_b, CAST(sum(g) AS BIGINT) AS sum_g,
       |       CAST(sum(rr) AS BIGINT) AS sum_r,
       |       CAST(sum((ny * nw + nx + 1) * (b + g + rr)) AS BIGINT) AS wsum
       |FROM m
       |WHERE ny >= 0 AND ny < nh AND nx >= 0 AND nx < nw
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Corpus composition report per source (the mixture dashboard before
    * weighting a pretraining blend): doc count, total chars, distinct
    * languages and the EXACT lower-median document length. The median is
    * grouped q63 machinery — a per-(source, n_chars) histogram plus a
    * cumulative-count window PARTITIONED BY source (no SinglePartition
    * exchange, unlike a global rank) and the integer rank test
    * 2·cum ≥ n (⇔ cum ≥ ceil(n/2), the lower-median rank, for either
    * parity); per-row work never leaves the map stage. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    // stats has two consumers, but an eager checkpoint measured SLOWER
    // in a same-epoch A/B (0.83 vs 0.62 s at sf0.1): the corpus
    // aggregation is one narrow-column scan and the added action costs
    // more than the re-derivation saves — left lazy deliberately
    val stats = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("total_chars"),
      countDistinct("lang").as("n_langs"))
    val hist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum("cnt").over(w))
      .join(stats.select("source", "n_docs"), "source")
      .where(col("cum") * 2 >= col("n_docs"))
      .groupBy("source").agg(min("n_chars").as("median_chars"))
    stats.join(med, "source")
      .select("source", "n_docs", "total_chars", "n_langs", "median_chars")
      .orderBy("source")
  }

  private val o68 =
    """WITH st AS (SELECT source, count(*) AS n_docs,
      |                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |                   count(DISTINCT lang) AS n_langs
      |            FROM documents GROUP BY 1),
      |o AS (SELECT source, n_chars,
      |             row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk
      |      FROM documents),
      |med AS (SELECT o.source, o.n_chars AS median_chars
      |        FROM o JOIN st USING (source) WHERE o.rk = (st.n_docs + 1) // 2)
      |SELECT st.source, st.n_docs, st.total_chars, st.n_langs, med.median_chars
      |FROM st JOIN med USING (source) ORDER BY source""".stripMargin

  /** Cross-source duplication matrix (which corpus sources mirror each
    * other's content — the diagnostic behind per-pair dedup priorities
    * and licensing audits): the q60 window hashing at source granularity.
    * One pass — per-hash sorted source SET (collect_set dedups, so no
    * separate distinct shuffle) exploded into ordered pairs by array
    * arithmetic — so the expensive md5-window scan runs ONCE (a naive
    * self-join plans two full scans, one per side) and each shared hash
    * contributes each pair exactly once (count ≡ countDistinct). Per-hash
    * state and pair fanout are bounded by the source count; no strings
    * cross an exchange. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= w)
      .select(col("source"), explode(expr(
        s"""transform(sequence(0, size(ws) - $w),
           |          i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, $w))), 1, 15), 16, 10) as bigint))""".stripMargin))
        .as("h"))
      .groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  private val o69 =
    """WITH d AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |w AS (
      |  SELECT DISTINCT source,
      |         CAST(('0x' || substr(md5(array_to_string(
      |                list_slice(ws, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')), 1, 15))
      |              AS BIGINT) AS h
      |  FROM (SELECT source, ws, unnest(range(len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8))
      |SELECT a.source AS src_a, b.source AS src_b, count(DISTINCT a.h) AS n_shared
      |FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Tile-pyramid rollup (the raster-pyramid / multi-zoom density build
    * behind every slippy-map overview and the S12 UK-summary raster's
    * scale ladder): point density + weight aggregated at zoom levels
    * 0..4, level-z cell = (e >> z, n >> z). Plan shape: ONE base
    * aggregation collapses points to finest-level cells, then a bounded
    * 5-way level explode re-aggregates — partial (map-side) aggregation
    * absorbs the fanout before the single exchange, so the shuffle
    * carries ~Σ-level-cells rows, never points × levels; no iterative
    * per-level scans. (A single-aggregation spelling that explodes the
    * RAW points 5-way and relies on the combiner alone was measured
    * SLOWER in a same-epoch A/B — 1.5 vs 1.0 s at sf0.1 — and shuffles
    * 5× the base key domain at scale; the base collapse stays.)
    * Weights use floor() before the long cast (Spark truncates
    * double→long, DuckDB rounds — floor pins both). */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
      .select((col("l_orderkey") % 700).cast("long").as("e"),
        (col("l_partkey") % 1300).cast("long").as("n"),
        floor(col("l_quantity")).cast("long").as("q"))
      .groupBy("e", "n")
      .agg(count(lit(1)).as("n_pts"), sum("q").as("qty"))
    base.select(explode(expr("sequence(0, 4)")).as("lvl"),
        col("e"), col("n"), col("n_pts"), col("qty"))
      .select(col("lvl").cast("long").as("level"),
        expr("shiftright(e, lvl)").as("cell_e"),
        expr("shiftright(n, lvl)").as("cell_n"),
        col("n_pts"), col("qty"))
      .groupBy("level", "cell_e", "cell_n")
      .agg(sum("n_pts").as("n_pts"), sum("qty").as("qty"))
      .orderBy("level", "cell_e", "cell_n")
  }

  private val o70 =
    """WITH en AS (
      |  SELECT CAST(l_orderkey % 700 AS BIGINT) AS e,
      |         CAST(l_partkey % 1300 AS BIGINT) AS n,
      |         CAST(floor(l_quantity) AS BIGINT) AS q
      |  FROM lineitem),
      |lv AS (SELECT unnest(range(5)) AS level)
      |SELECT level, e >> level AS cell_e, n >> level AS cell_n,
      |       count(*) AS n_pts, CAST(sum(q) AS BIGINT) AS qty
      |FROM en CROSS JOIN lv
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Snapshot reconciliation diff (the dataset-versioning audit between
    * two corpus builds: what was added, removed, or edited): two
    * deterministic snapshot views of the documents table FULL-OUTER
    * joined on doc_id, content compared by md5. Output is every doc_id
    * whose status isn't 'unchanged'. Scale shape: one equi-join keyed on
    * the id both snapshots are already laid out by, null-side arithmetic
    * only — the standard incremental-ingest reconciliation plan. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val old = docs.where(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("old_md5"))
    val nw = docs.where(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 10 === 5, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("new_md5"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  private val o71 =
    """WITH old AS (SELECT doc_id, md5(text) AS old_md5 FROM documents WHERE doc_id % 10 <> 7),
      |nw AS (SELECT doc_id,
      |              md5(CASE WHEN doc_id % 10 = 5 THEN text || ' v2' ELSE text END) AS new_md5
      |       FROM documents WHERE doc_id % 10 <> 3),
      |j AS (SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id,
      |             CASE WHEN old.doc_id IS NULL THEN 'added'
      |                  WHEN nw.doc_id IS NULL THEN 'removed'
      |                  WHEN old_md5 <> new_md5 THEN 'changed'
      |                  ELSE 'unchanged' END AS status
      |      FROM old FULL JOIN nw ON old.doc_id = nw.doc_id)
      |SELECT doc_id, status FROM j WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin

  /** Sliding time-window features (the rolling-rate signal behind rate
    * limits, burst detection and behavioural features): per-user hourly
    * event counts with a trailing 3-hour RANGE frame sum over the
    * integer hour index — gaps inside the frame contribute nothing
    * without densification, which a rowsBetween frame would get wrong.
    * The window partitions by user_id (no SinglePartition); all counts
    * integer-exact. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hr = t(s, dir, "events")
      .select(col("user_id"),
        (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L).cast("long").as("hour_idx"))
      .groupBy("user_id", "hour_idx").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id").orderBy("hour_idx").rangeBetween(-2, 0)
    hr.withColumn("n_3h", sum("n_events").over(w))
      .select("user_id", "hour_idx", "n_events", "n_3h")
      .orderBy("user_id", "hour_idx")
  }

  private val o72 =
    """WITH hr AS (
      |  SELECT user_id,
      |         CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hour_idx,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, hour_idx, n_events,
      |       CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY hour_idx
      |         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_3h
      |FROM hr ORDER BY 1, 2""".stripMargin

  /** Stream-static enrichment join: see
    * [[graft.streaming.Streams.segmentHourlyCounts]] — the
    * dimension-lookup streaming shape (per-micro-batch broadcast, zero
    * join state), run to completion so it equals the batch
    * join + windowed rollup the oracle computes. */
  private def q73(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.segmentHourlyCounts(
      s, s"$dir/events.parquet", s"$dir/customer.parquet")

  private val o73 =
    """SELECT date_trunc('hour', ts) AS win_start, c_mktsegment AS segment,
      |       count(*) AS n,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CUBE rollup over (lang, source) — the multi-grouping-set aggregate
    * (every OLAP dashboard's subtotal lattice) as ONE pass: Spark's Expand
    * replicates each input row once per grouping set BEFORE the partial
    * aggregation absorbs the fanout, so the shuffle carries ~4× distinct
    * groups, not 4× rows. GROUPING() flags disambiguate a real NULL from
    * a subtotal row. */
  private def q74(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(
        grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_source"),
        count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("g_lang"), col("g_source"), col("n_docs"), col("total_chars"))
      .orderBy("lang", "source")

  private val o74 =
    """SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
      |       CAST(GROUPING(lang) AS BIGINT) AS g_lang,
      |       CAST(GROUPING(source) AS BIGINT) AS g_source,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY CUBE (lang, source) ORDER BY 1, 2""".stripMargin

  /** Language-composition pivot: one row per source, one count column per
    * language — the wide-format mixture report. The pivot value list is
    * FIXED (the engine's langid label set), so Spark plans a single
    * aggregation with no extra distinct-values pass, and absent
    * (source, lang) cells are exact zeros. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val p = t(s, dir, "documents")
      .groupBy("source").pivot("lang", langs).count()
    langs.foldLeft(p)((df, l) =>
        df.withColumn(s"n_$l", coalesce(col(l), lit(0L))))
      .select(col("source") +: langs.map(l => col(s"n_$l")): _*)
      .orderBy("source")
  }

  private val o75 =
    """SELECT source,
      |       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
      |       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
      |       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
      |       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Curriculum difficulty buckets: ntile(4) quartile of document length
    * WITHIN each language, ordered by the deterministic total order
    * (n_chars, doc_id) — same remainder-to-leading-buckets ntile
    * definition in Spark and DuckDB, so the assignment is engine-exact.
    * The window partitions by lang (no SinglePartition). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(4).over(w).cast("long").as("bucket"))
      .orderBy("doc_id")
  }

  private val o76 =
    """SELECT doc_id, lang, n_chars,
      |       CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Funnel conversion (view → click → purchase, strictly ordered in
    * event time): the clickstream staple. Formulated as three
    * per-user MIN aggregations chained by "strictly after the previous
    * stage" joins — every shuffle keys on user_id, so at cluster scale
    * the three stages co-partition and AQE can broadcast the shrinking
    * stage frames. Timestamps compare at exact microsecond longs
    * (unix_micros ↔ epoch_us), never as floats. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts").cast("timestamp")).as("us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("us") > col("t_view"))
      .groupBy("user_id").agg(min("us").as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("us") > col("t_click"))
      .groupBy("user_id").agg(min("us").as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
                 + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  private val o77 =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM ev
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT ev.user_id, min(us) AS t_click FROM ev JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > t_view GROUP BY 1),
      |p AS (SELECT ev.user_id, min(us) AS t_purchase FROM ev JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > t_click GROUP BY 1)
      |SELECT v.user_id, t_view, t_click, t_purchase,
      |       CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Retention cohort matrix: users grouped by first-seen week, counted
    * distinct in each subsequent week offset. Weeks are epoch-day
    * integer arithmetic (day 0 = 1970-01-01), NOT calendar date_trunc —
    * identical in any engine and free of timezone/week-start semantics.
    * Two user_id-keyed shuffles (first-seen agg, enrich join) then one
    * exact countDistinct whose two-phase plan keys on the tiny
    * (cohort_week, offset) pair. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day_idx"))
    val first = days.groupBy("user_id")
      .agg(expr("min(day_idx) div 7").as("cohort_week"))
    days.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (expr("day_idx div 7") - col("cohort_week")).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  private val o78 =
    """WITH days AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events),
      |first AS (
      |  SELECT user_id, min(day_idx) // 7 AS cohort_week FROM days GROUP BY 1)
      |SELECT cohort_week, day_idx // 7 - cohort_week AS week_offset,
      |       count(DISTINCT d.user_id) AS n_users
      |FROM days d JOIN first USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-label embedding prototype (class centroid), the building block
    * of semantic clustering / IVF training / prototype classifiers.
    * Components are quantized to 2^-20 fixed point BEFORE the sum, so
    * the cross-row aggregation is an exact long — associative in any
    * partial-aggregation order — and the final centroid double is
    * bit-identical across engines (a raw float/double sum would drift
    * with partition order). Output is long format (label, dim, c): the
    * shuffle carries quantized longs keyed on (label, dim), never
    * vectors. */
  private def q79(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "comp")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("comp").cast("double") * lit(1048576.0) + lit(0.5)).as("q"))
      .groupBy("label", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("s").cast("double") / lit(1048576.0) / col("n").cast("double")).as("centroid"),
        col("n"))
      .orderBy("label", "dim")

  private val o79 =
    """WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings),
      |g AS (SELECT label, dim, sum(q) AS s, count(*) AS n FROM e GROUP BY 1, 2)
      |SELECT label, dim, CAST(s AS DOUBLE) / 1048576.0 / n AS centroid, n
      |FROM g ORDER BY label, dim""".stripMargin

  /** Event-type transition matrix (first-order Markov counts over each
    * user's clickstream): lead() over the per-user (ts, event_id) total
    * order, then a global (src, dst) count. The window partitions by
    * user_id — no SinglePartition — and the final aggregate reduces to
    * |event_types|² rows. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("dst", lead("event_type", 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "dst")
  }

  private val o80 =
    """WITH seq AS (
      |  SELECT user_id, event_type AS src,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS dst
      |  FROM events)
      |SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** HyperLogLog scale constant alpha_m * m^2 * 2^53 for m = 1024
    * registers, precomputed once so BOTH engines divide the SAME double
    * literal by the exact integer register sum (libm-free: the whole
    * sketch is integer max/sum plus one final IEEE division, so the
    * estimate double is bit-identical in any engine / partition order). */
  private val HllScale: Double = graft.functions.Hll.Scale

  /** Distributed HyperLogLog distinct-count sketch (m=1024 registers)
    * per event_type, next to the exact count for calibration. The
    * classic two-level shape: map-side partial max per (group, register)
    * — the shuffle carries at most |groups|×1024 tiny rows however many
    * input rows there are — then one final register fold. Everything
    * before the single output division is exact integer arithmetic:
    * register index and 52-bit suffix from md5 hex, rho via the length
    * of the binary string (no float log2), and the 2^-rho register sum
    * scaled to 2^53 fixed point (max 1023·2^53 + 2^52 < 2^63, no
    * overflow). Empty registers enter the sum as (m - n_used)·2^53. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val regs = graft.functions.Hll.rhoFrame(t(s, dir, "events"), "event_type", "user_id")
      .groupBy("event_type", "bucket").agg(max("rho").as("r"))
    val exact = t(s, dir, "events").groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    graft.functions.Hll.estimate(regs, "event_type").join(exact, "event_type")
      .select("event_type", "n_exact", "n_used", "s_total", "est")
      .orderBy("event_type")
  }

  private val o81 =
    s"""WITH h AS (
      |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |b AS (
      |  SELECT event_type,
      |         CAST(('0x' || substr(h, 1, 3)) AS BIGINT) % 1024 AS bucket,
      |         CAST(('0x' || substr(h, 4, 13)) AS BIGINT) AS w
      |  FROM h),
      |rho AS (
      |  SELECT event_type, bucket,
      |         CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
      |  FROM b),
      |regs AS (
      |  SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER)) AS s_used,
      |         count(*) AS n_used
      |  FROM regs GROUP BY 1),
      |exact AS (
      |  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
      |SELECT s.event_type, n_exact, n_used,
      |       CAST(s_used + (1024 - n_used) * 9007199254740992 AS BIGINT) AS s_total,
      |       ${HllScale} / CAST(s_used + (1024 - n_used) * 9007199254740992 AS DOUBLE) AS est
      |FROM sums s JOIN exact USING (event_type) ORDER BY 1""".stripMargin

  /** Hybrid-search reciprocal-rank fusion: a keyword ranker (term
    * frequency of 'spark') and a length ranker, each retrieving its
    * top-100 via orderBy+limit — Spark plans TakeOrderedAndProject,
    * the DISTRIBUTED top-k (per-partition heads + driver merge), never
    * a SinglePartition global window — then RRF-fused
    * (Σ 1/(60+rank), absent list contributes 0) and re-cut to 20.
    * All float math is per-row fixed-order, so cross-engine exact. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"),
      expr("size(filter(split(text, ' '), w -> w = 'spark'))").cast("long").as("tf"),
      col("n_chars"))
    def top100(df: DataFrame, order: Seq[Column], rname: String): DataFrame = {
      val w = Window.orderBy(order: _*)
      df.orderBy(order: _*).limit(100)
        .withColumn(rname, row_number().over(w).cast("long"))
        .select(col("doc_id"), col(rname))
    }
    val kw = top100(docs.where(col("tf") > 0),
      Seq(col("tf").desc, col("doc_id")), "r_kw")
    val ln = top100(docs, Seq(col("n_chars").desc, col("doc_id")), "r_len")
    kw.join(ln, Seq("doc_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(60.0) + col("r_kw").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("r_len").cast("double")), lit(0.0)))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select("doc_id", "r_kw", "r_len", "score")
  }

  private val o82 =
    """WITH docs AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS BIGINT) AS tf,
      |         n_chars
      |  FROM documents),
      |kw AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS r_kw
      |  FROM docs WHERE tf > 0 QUALIFY r_kw <= 100),
      |ln AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r_len
      |  FROM docs QUALIFY r_len <= 100)
      |SELECT doc_id, r_kw, r_len,
      |       COALESCE(1.0::DOUBLE / (60.0::DOUBLE + CAST(r_kw AS DOUBLE)), 0.0::DOUBLE)
      |     + COALESCE(1.0::DOUBLE / (60.0::DOUBLE + CAST(r_len AS DOUBLE)), 0.0::DOUBLE) AS score
      |FROM kw FULL OUTER JOIN ln USING (doc_id)
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Per-user activity bitmap: one 63-bit word per user, bit i set iff
    * the user was active on day (first_day + i) — the roaring-bitmap-
    * style index shape for engagement analytics, built with pure integer
    * shift/or-as-sum aggregation (distinct (user, offset) first, so the
    * sum of distinct powers of two IS the bitwise OR). Streak detection
    * is seven shift-ANDs on the word, no per-day re-scan. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day_idx"))
    val first = days.groupBy("user_id").agg(min("day_idx").as("first_day"))
    val offs = days.join(first, "user_id")
      .select(col("user_id"), (col("day_idx") - col("first_day")).as("off"))
      .where(col("off") < 63).distinct()
    offs.groupBy("user_id")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(off AS INT))")).as("bitmap"),
        count(lit(1)).as("n_active_days"))
      .withColumn("has_streak7",
        (expr("bitmap & (bitmap >> 1) & (bitmap >> 2) & (bitmap >> 3) & " +
          "(bitmap >> 4) & (bitmap >> 5) & (bitmap >> 6)") =!= 0L).cast("long"))
      .select("user_id", "bitmap", "n_active_days", "has_streak7")
      .orderBy("user_id")
  }

  private val o83 =
    """WITH days AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events),
      |first AS (SELECT user_id, min(day_idx) AS first_day FROM days GROUP BY 1),
      |offs AS (
      |  SELECT DISTINCT d.user_id, day_idx - first_day AS off
      |  FROM days d JOIN first USING (user_id) WHERE day_idx - first_day < 63),
      |bm AS (
      |  SELECT user_id, sum(CAST(1 AS BIGINT) << CAST(off AS INTEGER)) AS bitmap,
      |         count(*) AS n_active_days
      |  FROM offs GROUP BY 1)
      |SELECT user_id, CAST(bitmap AS BIGINT) AS bitmap, n_active_days,
      |       CAST(CASE WHEN (bitmap & (bitmap >> 1) & (bitmap >> 2) & (bitmap >> 3)
      |                 & (bitmap >> 4) & (bitmap >> 5) & (bitmap >> 6)) <> 0
      |            THEN 1 ELSE 0 END AS BIGINT) AS has_streak7
      |FROM bm ORDER BY user_id""".stripMargin

  /** Per-tile exact integer channel sums, the q84 base projection; also
    * written to [[Sidecars.channelSumsPath]] by Verify's setup so the
    * oracle can re-derive the corpus statistics from the SAME exact
    * integers. */
  private[graft] def channelSumsBase(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val (gw, gh, _) = syntheticScale(dir)
    Synthetic.tiles(s, gw, gh, 64)
      .select(col("image_id"),
        ec(graft.media.ChannelSums(ee(col("bytes")))).as("cs"))
      .select(col("image_id"), col("cs.n_pix").as("n_pix"),
        col("cs.sum_r").as("sum_r"), col("cs.sum_g").as("sum_g"),
        col("cs.sum_b").as("sum_b"), col("cs.sumsq_r").as("sumsq_r"),
        col("cs.sumsq_g").as("sumsq_g"), col("cs.sumsq_b").as("sumsq_b"))
  }

  /** Corpus channel-normalization statistics (the per-channel mean/std a
    * training pipeline bakes into its input transform): per-tile exact
    * integer sums from the shared decode pass, ONE global aggregation of
    * longs — associative, so partition order can't move the result —
    * then mean/std doubles derived from the exact integers (sqrt is
    * IEEE-correctly-rounded, so even std hash-matches across engines).
    * The shuffle carries 7 longs per tile; pixels never leave the map
    * side. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val agg = channelSumsBase(s, dir).agg(
      sum("n_pix").as("n"),
      sum("sum_r").as("sr"), sum("sum_g").as("sg"), sum("sum_b").as("sb"),
      sum("sumsq_r").as("qr"), sum("sumsq_g").as("qg"), sum("sumsq_b").as("qb"))
    val chans = agg.select(expr(
      "stack(3, 'b', sb, qb, 'g', sg, qg, 'r', sr, qr) AS (channel, s, q)"),
      col("n"))
    chans
      .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
      .withColumn("std", sqrt(col("q").cast("double") / col("n").cast("double")
        - col("mean") * col("mean")))
      .select("channel", "n", "s", "q", "mean", "std")
      .orderBy("channel")
  }

  private lazy val o84 =
    s"""WITH a AS (
       |  SELECT CAST(sum(n_pix) AS BIGINT) AS n, CAST(sum(sum_r) AS BIGINT) AS sr,
       |         CAST(sum(sum_g) AS BIGINT) AS sg, CAST(sum(sum_b) AS BIGINT) AS sb,
       |         CAST(sum(sumsq_r) AS BIGINT) AS qr, CAST(sum(sumsq_g) AS BIGINT) AS qg,
       |         CAST(sum(sumsq_b) AS BIGINT) AS qb
       |  FROM read_parquet('${Sidecars.channelSumsPath}/*.parquet')),
       |c AS (
       |  SELECT 'b' AS channel, n, sb AS s, qb AS q FROM a
       |  UNION ALL SELECT 'g', n, sg, qg FROM a
       |  UNION ALL SELECT 'r', n, sr, qr FROM a),
       |m AS (
       |  SELECT channel, n, s, q,
       |         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM c)
       |SELECT channel, n, s, q, mean,
       |       sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean) AS std
       |FROM m ORDER BY channel""".stripMargin

  /** Star-schema rollup: fact events against the customer → nation →
    * region dimension chain, revenue by (region, event_type). The three
    * dimension joins broadcast (plan-asserted) so the fact table never
    * shuffles for the join — only the final tiny rollup exchanges. The
    * revenue sum rides the exact decimal path (dsum). */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val dims = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    t(s, dir, "events")
      .join(broadcast(dims), col("user_id") === col("c_custkey"))
      .groupBy(col("r_name").as("region"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("revenue"))
      .orderBy("region", "event_type")
  }

  private val o85 =
    """SELECT r_name AS region, event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user engagement trend: exact-integer least-squares slope of
    * daily event value over epoch days. x (day index) and y (value in
    * cents) are exact longs, so all five sufficient statistics are
    * associative integer sums; the slope double comes from ONE division
    * of exact integers — partition-order independent, cross-engine
    * bit-identical. Degenerate single-day users yield NULL (den = 0). */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val xy = t(s, dir, "events").select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("x"),
      floor(col("value") * lit(100.0) + lit(0.5)).as("y"))
    xy.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("user_id"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope",
        when(col("den") === 0L, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den").cast("double")))
      .orderBy("user_id")
  }

  private val o86 =
    """WITH xy AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS x,
      |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      |  FROM events),
      |s AS (
      |  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM xy GROUP BY 1)
      |SELECT user_id, n, CAST(n * sxy - sx * sy AS BIGINT) AS num,
      |       CAST(n * sxx - sx * sx AS BIGINT) AS den,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
      |               / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
      |FROM s ORDER BY user_id""".stripMargin

  /** Incremental-view-maintenance shape: per-user aggregate states built
    * independently over two time slices (before/after 2024-01-16), then
    * MERGED by re-aggregating the partial states — count and exact
    * decimal sum are re-aggregatable, so merge(partials) ≡ aggregate
    * (full scan), which is what the oracle computes directly. This is
    * the algebra that lets a 100 TB pipeline maintain daily aggregates
    * by folding in one day's delta instead of rescanning the corpus. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    def slice(p: Column => Column): DataFrame =
      t(s, dir, "events").where(p(col("ts").cast("timestamp")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("v"))
    slice(_ < cut).unionAll(slice(_ >= cut))
      .groupBy("user_id")
      .agg(sum("n").as("n_events"), sum("v").cast("double").as("total_value"))
      .orderBy("user_id")
  }

  private val o87 =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** CDC latest-record compaction (the upsert-merge step of every
    * change-capture pipeline): keep the newest record per
    * (user_id, event_type) under the deterministic (ts, event_id) total
    * order. One window keyed on the compaction key — no SinglePartition,
    * no self-join; at 100 TB this is the shape that compacts a day's
    * change log against itself before merging into the base table. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("us").desc, col("event_id").desc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("value"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), col("us").as("last_us"),
        col("value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  private val o88 =
    """SELECT user_id, event_type, event_id AS last_event_id,
      |       epoch_us(ts) AS last_us, value AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Per-source Gini concentration of document lengths — the corpus-
    * balance diagnostic (is one source dominated by a few huge docs?).
    * Rank-weighted sums Σ(i·y) and Σy are exact longs computed under a
    * per-source window (no SinglePartition), so the final coefficient
    * G = 2Σ(i·y)/(nΣy) − (n+1)/n is two divisions of exact integers —
    * deterministic in any partition order. (At 10^10+ rows per source
    * the Σ(i·y) long would need decimal widening; the shape is
    * unchanged.) */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    t(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        row_number().over(w).cast("long").as("i"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sy"),
        sum(col("i") * col("n_chars")).as("siy"))
      .withColumn("gini",
        (lit(2L) * col("siy")).cast("double") / (col("n") * col("sy")).cast("double")
          - (col("n") + lit(1L)).cast("double") / col("n").cast("double"))
      .select("source", "n", "sy", "siy", "gini")
      .orderBy("source")
  }

  private val o89 =
    """WITH r AS (
      |  SELECT source, n_chars,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars, doc_id) AS BIGINT) AS i
      |  FROM documents),
      |g AS (
      |  SELECT source, count(*) AS n, sum(n_chars) AS sy,
      |         sum(i * n_chars) AS siy
      |  FROM r GROUP BY 1)
      |SELECT source, n, CAST(sy AS BIGINT) AS sy, CAST(siy AS BIGINT) AS siy,
      |       CAST(2 * siy AS DOUBLE) / CAST(n * sy AS DOUBLE)
      |     - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
      |FROM g ORDER BY source""".stripMargin

  /** Token-budget apportionment across sources by largest-remainder
    * (Hamilton) method: allocate a 1,000,000-token budget proportionally
    * to each source's total characters, exactly — Σalloc == budget by
    * construction, all integer arithmetic, remainder ties broken by
    * source name. The per-source totals reduce the corpus to |sources|
    * rows BEFORE the global windows, so the SinglePartition step only
    * ever sees the tiny aggregated frame — the legitimate pattern for
    * global ranking over pre-aggregated keys. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 1000000L
    val tot = t(s, dir, "documents")
      .groupBy("source").agg(sum("n_chars").as("tot"))
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    tot
      .withColumn("grand", sum("tot").over(wAll))
      .withColumn("base", expr(s"($budget * tot) div grand"))
      .withColumn("rem", expr(s"($budget * tot) % grand"))
      .withColumn("extra", lit(budget) - sum("base").over(wAll))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
      .select("source", "tot", "base", "rem", "alloc")
      .orderBy("source")
  }

  private val o90 =
    """WITH tot AS (
      |  SELECT source, sum(n_chars) AS tot FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, tot,
      |         sum(tot) OVER () AS grand,
      |         (1000000 * tot) // sum(tot) OVER () AS base,
      |         (1000000 * tot) % sum(tot) OVER () AS rem
      |  FROM tot),
      |e AS (
      |  SELECT source, tot, base, rem,
      |         1000000 - sum(base) OVER () AS extra,
      |         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
      |  FROM w)
      |SELECT source, CAST(tot AS BIGINT) AS tot, CAST(base AS BIGINT) AS base,
      |       CAST(rem AS BIGINT) AS rem,
      |       CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM e ORDER BY source""".stripMargin

  /** Robust per-source outlier profile via median / MAD (the
    * quality-filter calibration pass that mean/std gets wrong on
    * heavy-tailed corpora). Both medians are picked from VALUE
    * HISTOGRAMS (distinct-length sized, not corpus sized) with windows
    * partitioned by source — no SinglePartition anywhere — and the
    * 3×MAD outlier fence is all-integer, so every output column is an
    * exact long. Lower median at rank (n+1) div 2 (documented for even
    * n). */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def groupedMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
      val hist = df.groupBy("source", valCol).agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("source").orderBy(valCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("source")
      hist.withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(wn))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("source").agg(min(valCol).as(out))
    }
    val docs = t(s, dir, "documents").select("source", "n_chars")
    // |sources|-bounded; `dev` (docs ⋈ med) is derived by BOTH the mad
    // pass and the final aggregation, so without materialization the
    // grouped-median histogram+window behind med executes twice
    val med = groupedMedian(docs, "n_chars", "med").localCheckpoint(true)
    val dev = docs.join(broadcast(med), "source")
      .withColumn("dev", abs(col("n_chars") - col("med")))
    val mad = groupedMedian(dev.select("source", "dev"), "dev", "mad")
    dev.join(broadcast(mad), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), first("med").as("med"), first("mad").as("mad"),
        sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select("source", "n", "med", "mad", "n_outliers")
      .orderBy("source")
  }

  private val o91 =
    """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |o AS (SELECT source, n_chars,
      |        row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk
      |      FROM documents),
      |med AS (SELECT o.source, min(n_chars) AS med
      |        FROM o JOIN n USING (source) WHERE rk >= (n.n + 1) // 2 GROUP BY 1),
      |d AS (SELECT dd.source, abs(dd.n_chars - m.med) AS dev
      |      FROM documents dd JOIN med m USING (source)),
      |od AS (SELECT source, dev,
      |         row_number() OVER (PARTITION BY source ORDER BY dev) AS rk
      |       FROM d),
      |mad AS (SELECT od.source, min(dev) AS mad
      |        FROM od JOIN n USING (source) WHERE rk >= (n.n + 1) // 2 GROUP BY 1),
      |out AS (SELECT d.source,
      |          CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_outliers
      |        FROM d JOIN mad USING (source) GROUP BY 1)
      |SELECT source, n, med, mad, n_outliers
      |FROM n JOIN med USING (source) JOIN mad USING (source) JOIN out USING (source)
      |ORDER BY source""".stripMargin

  /** SCD2 validity-interval construction from the raw event stream —
    * gap-and-island change-data-capture that keeps FULL history as
    * [valid_from, valid_to) intervals (q88 keeps only the newest row).
    * Change detection is a lag under the per-user (ts, event_id) total
    * order; interval ids are a per-user running sum of change flags;
    * valid_to chains by lead over the per-user interval frame (tiny —
    * one row per state change). All windows partition by user_id, so
    * the operator scales with users, never funneling the stream through
    * one task. Timestamps surface as unix micros (exact longs). */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"))
      .withColumn("prev", lag("event_type", 1)
        .over(Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("seq", sum("chg").over(w))
    val iv = flagged.groupBy("user_id", "seq")
      .agg(first("event_type").as("state"), min("tus").as("valid_from"),
        count(lit(1)).as("n_events"))
    iv.withColumn("valid_to",
        lead("valid_from", 1).over(Window.partitionBy("user_id").orderBy("seq")))
      .select("user_id", "seq", "state", "valid_from", "valid_to", "n_events")
      .orderBy("user_id", "seq")
  }

  private val o92 =
    """WITH o AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
      |         lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_type, tus,
      |         sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      |  FROM o),
      |iv AS (SELECT user_id, CAST(seq AS BIGINT) AS seq,
      |              min(event_type) AS state, min(tus) AS valid_from,
      |              count(*) AS n_events
      |       FROM c GROUP BY 1, 2)
      |SELECT user_id, seq, state, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to,
      |       n_events
      |FROM iv ORDER BY user_id, seq""".stripMargin

  /** Count-Min sketch over per-user event counts — the bounded-memory
    * frequency sketch for streams too wide for an exact hash aggregate
    * (the point-query companion to q81's HyperLogLog cardinality and
    * q61's exact heavy hitters). d=4 hash rows × w=64 buckets from a
    * portable md5 family; the sketch is built from the PRE-AGGREGATED
    * (key, count) histogram (equivalent by linearity, far cheaper than
    * per-event updates), the 256-cell sketch broadcasts, and each key's
    * estimate is the min over its 4 cells. Pure integer arithmetic; the
    * one-sided error guarantee (estimate >= truth) is asserted per key.
    * (Complements [[graft.functions.Cms]], which uses Spark's built-in
    * sketch as a plan-changing heavy-hitter PREFILTER inside q61 —
    * here the estimates themselves are the product, built from a
    * portable hash family DuckDB can re-derive.) */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 64
    val tc = t(s, dir, "events").groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
    val hashed = tc
      .withColumn("j", explode(array((0 until d).map(lit): _*)))
      .withColumn("bucket",
        conv(substring(md5(concat(col("j").cast("string"), lit(":"),
          col("user_id").cast("string"))), 1, 15), 16, 10).cast("long") % w)
    val sketch = hashed.groupBy("j", "bucket").agg(sum("true_cnt").as("cell"))
    hashed.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy("user_id").agg(first("true_cnt").as("true_cnt"), min("cell").as("cms_est"))
      .withColumn("overest", col("cms_est") - col("true_cnt"))
      .select("user_id", "true_cnt", "cms_est", "overest")
      .orderBy("user_id")
  }

  private val o93 =
    """WITH tc AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1),
      |h AS (SELECT user_id, true_cnt, j,
      |        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
      |          CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket
      |      FROM tc, (SELECT unnest([0, 1, 2, 3]) AS j)),
      |sk AS (SELECT j, bucket, sum(true_cnt) AS cell FROM h GROUP BY 1, 2),
      |est AS (SELECT h.user_id, min(sk.cell) AS cms_est
      |        FROM h JOIN sk USING (j, bucket) GROUP BY 1)
      |SELECT tc.user_id, tc.true_cnt, CAST(cms_est AS BIGINT) AS cms_est,
      |       CAST(cms_est - tc.true_cnt AS BIGINT) AS overest
      |FROM tc JOIN est USING (user_id) ORDER BY user_id""".stripMargin

  /** Inverted-index construction: term → (document frequency, corpus
    * frequency, posting-list head). The tf stage is one hash agg over
    * (term, doc_id); df/cf are ordinary longs; the HEAD (the K=32
    * smallest doc ids) comes from [[graft.functions.MinKLongs]], a
    * bounded-state TypedImperativeAggregate — O(K) state per term with
    * map-side combine, where a window row_number would sort a hot
    * term's (stopword's) entire posting list in one task and
    * collect_list would hold it all in one buffer. Head ids surface as
    * a comma-joined string so the oracle compare is order-exact. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val head = org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinKLongs(
        org.apache.spark.sql.GraftBridge.expression(col("doc_id")), 32)
        .toAggregateExpression())
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"), head.as("ids"))
      .withColumn("head_ids",
        expr("array_join(transform(ids, x -> cast(x as string)), ',')"))
      .select("term", "df", "cf", "head_ids")
      .orderBy("term")
  }

  private val o94 =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT term, doc_id, count(*) AS tf
      |       FROM tok WHERE length(term) > 0 GROUP BY 1, 2),
      |r AS (SELECT term, doc_id, tf,
      |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
      |      FROM tf)
      |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
      |       string_agg(CASE WHEN rk <= 32 THEN CAST(doc_id AS VARCHAR) END,
      |                  ',' ORDER BY doc_id) AS head_ids
      |FROM r GROUP BY term ORDER BY term""".stripMargin

  /** BM25-shaped ranked retrieval over the corpus for a fixed query
    * term set — the scoring companion to q94's index build and q82's
    * rank fusion. Engine-portable numerics: idf is the RATIONAL
    * Robertson form (2N−2df+1)/(2df+1) — one division of exact
    * integers, no ln() whose last ulp differs between libm
    * implementations — and each per-term score quantizes to 2^20
    * fixed point BEFORE the per-doc sum, so the cross-row accumulation
    * is exact long addition (bit-stable under AQE re-partitioning; the
    * q79/q84 pattern). dl/avgdl is computed as (dl·N)/ΣDL — again one
    * division of exact longs. Scale shape: doc length is a map-side
    * array `size` (the full token stream is NEVER shuffled — only the
    * few tokens matching the query terms survive the explode+filter),
    * df/global frames broadcast, the only shuffles key on doc_id, and
    * the top-20 cut is a distributed TakeOrderedAndProject, never a
    * global sort. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("hash", "window", "spark")
    val docs = t(s, dir, "documents").select(
      col("doc_id"),
      filter(split(col("text"), " "), x => length(x) > 0).as("toks"))
    val dl = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .filter(col("dl") > 0) // empty docs carry no terms: match the token-derived frame
    val g = dl.agg(count(lit(1)).as("n"), sum("dl").as("dlt"))
    val tf = docs
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(g))
      .withColumn("idf",
        (lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)).cast("double")
          / (lit(2L) * col("df") + lit(1L)).cast("double"))
      .withColumn("x",
        (col("dl") * col("n")).cast("double") / col("dlt").cast("double"))
      .withColumn("sq", floor(
        col("idf") * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("x")))
          * lit(1048576.0)).cast("long"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("sq").as("score_q"))
      .withColumn("score", col("score_q").cast("double") / lit(1048576.0))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(20)
      .select("doc_id", "n_terms", "score_q", "score")
  }

  private val o95 =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tk AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
      |g AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS dlt FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
      |       WHERE term IN ('hash', 'window', 'spark') GROUP BY 1, 2),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(floor(
      |      (CAST(2 * g.n - 2 * dft.df + 1 AS DOUBLE) / CAST(2 * dft.df + 1 AS DOUBLE))
      |      * (CAST(tf.tf AS DOUBLE) * 2.2)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |          (CAST(dl.dl * g.n AS DOUBLE) / CAST(g.dlt AS DOUBLE))))
      |      * 1048576.0) AS BIGINT) AS sq
      |  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term), g)
      |SELECT doc_id, count(*) AS n_terms, CAST(sum(sq) AS BIGINT) AS score_q,
      |       CAST(sum(sq) AS DOUBLE) / 1048576.0 AS score
      |FROM sc GROUP BY 1
      |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin

  /** Batch time-gap sessionization with per-user session ORDINALS: a
    * new session starts when a user's inter-event gap exceeds 8 hours
    * (the temporal complement to q92's value-change islands). q40 is
    * the STREAMING formulation of sessionization (session_window /
    * flatMapGroupsWithState) — it cannot number a user's sessions;
    * this gap-island window form yields the sequence ids and exact
    * unix-micro durations a training-data session-feature table needs.
    * Session ids are a per-user running sum of gap flags under the
    * (ts, event_id) total order; all windows partition by user_id, so
    * the stream never funnels through one task and the operator scales
    * with users. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 28800000000L // 8 h
    val wo = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"))
      .withColumn("prev", lag("tus", 1).over(wo))
      .withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum("new_s").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy("user_id", "sess")
      .agg(min("tus").as("t_start"), max("tus").as("t_end"),
        count(lit(1)).as("n_events"))
      .withColumn("dur_us", col("t_end") - col("t_start"))
      .select("user_id", "sess", "t_start", "t_end", "n_events", "dur_us")
      .orderBy("user_id", "sess")
  }

  private val o96 =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |c AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev IS NULL OR tus - prev > 28800000000
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM o)
      |SELECT user_id, CAST(sess AS BIGINT) AS sess, min(tus) AS t_start,
      |       max(tus) AS t_end, count(*) AS n_events,
      |       max(tus) - min(tus) AS dur_us
      |FROM c GROUP BY 1, 2 ORDER BY user_id, sess""".stripMargin

  /** Per-user ranking AUC (Mann-Whitney rank-sum with average-rank tie
    * handling) of event `value` as a predictor of clicks — the
    * classifier-evaluation staple for curation-model quality. All-exact
    * arithmetic: scores quantize to integer cents, the tie-group frame
    * is the DISTINCT-score histogram (so the per-user window runs over
    * at most |distinct scores| rows, not events), average ranks are
    * kept doubled to stay integer (2·avgrank = 2·ranksBelow + c + 1),
    * and AUC surfaces as the exact rational u2/(2·nPos·nNeg) — one
    * final correctly-rounded division. Windows partition by user_id. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ties = t(s, dir, "events")
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("pos"))
      .groupBy("user_id", "cents")
      .agg(count(lit(1)).as("c"), sum("pos").as("p"))
    val wb = Window.partitionBy("user_id").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val per = ties
      .withColumn("rb", coalesce(sum("c").over(wb), lit(0L)))
      .groupBy("user_id")
      .agg(sum(col("p") * (lit(2L) * col("rb") + col("c") + lit(1L))).as("rs2"),
        sum("p").as("n_pos"), (sum("c") - sum("p")).as("n_neg"))
      .withColumn("u2", col("rs2") - col("n_pos") * (col("n_pos") + lit(1L)))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
    per
      .withColumn("auc", col("u2").cast("double")
        / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
      .select("user_id", "n_pos", "n_neg", "u2", "auc")
      .orderBy("user_id")
  }

  private val o97 =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |ties AS (SELECT user_id, cents, count(*) AS c, sum(pos) AS p
      |         FROM e GROUP BY 1, 2),
      |rk AS (
      |  SELECT user_id, c, p,
      |         coalesce(sum(c) OVER (PARTITION BY user_id ORDER BY cents
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
      |  FROM ties),
      |per AS (
      |  SELECT user_id,
      |         CAST(sum(p * (2 * rb + c + 1)) AS BIGINT) AS rs2,
      |         CAST(sum(p) AS BIGINT) AS n_pos,
      |         CAST(sum(c) - sum(p) AS BIGINT) AS n_neg
      |  FROM rk GROUP BY 1)
      |SELECT user_id, n_pos, n_neg,
      |       rs2 - n_pos * (n_pos + 1) AS u2,
      |       CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
      |         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM per WHERE n_pos > 0 AND n_neg > 0 ORDER BY user_id""".stripMargin

  /** Cohen's kappa inter-annotator agreement between the stored `lang`
    * label and q14's heuristic language-ID — chance-corrected agreement
    * as the exact rational (N·agree − Σ_k row_k·col_k) /
    * (N² − Σ_k row_k·col_k), computed entirely in longs with ONE final
    * division. The confusion matrix is deliberately non-square (the
    * heuristic's domain {en,fr,de} ⊂ the label domain) — classes
    * missing on either side contribute 0 to the chance term via the
    * inner class join. Output is the full confusion frame with
    * marginals; the kappa scalars broadcast onto every cell row. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val low = lower(col("text"))
    def hits(words: Seq[String]): Column =
      words.map(wd => size(split(low, s"\\b$wd\\b")) - 1).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is"))
    val fr = hits(Seq("le", "la", "et", "est"))
    val de = hits(Seq("der", "und", "die", "ist"))
    val lab = t(s, dir, "documents").select(col("lang"),
      when(en >= fr && en >= de, "en").when(fr >= de, "fr").otherwise("de")
        .as("lang_guess"))
    // cells has four consumers but is left LAZY deliberately: its
    // aggregation Exchange is identical under every consumer, so AQE
    // exchange reuse already runs the 12-regex corpus scan once — an
    // eager checkpoint measured SLOWER in a same-epoch A/B
    // (0.76 vs 0.62 s at sf0.1, the cost of the extra action)
    val cells = lab.groupBy("lang", "lang_guess").agg(count(lit(1)).as("n_cell"))
    val rows = cells.groupBy("lang").agg(sum("n_cell").as("row_tot"))
    val cols = cells.groupBy("lang_guess").agg(sum("n_cell").as("col_tot"))
    val g = cells.agg(sum("n_cell").as("n"),
      sum(when(col("lang") === col("lang_guess"), col("n_cell")).otherwise(0L))
        .as("agree"))
    val pe = rows.join(cols, rows("lang") === cols("lang_guess"))
      .agg(coalesce(sum(col("row_tot") * col("col_tot")), lit(0L)).as("pe_sum"))
    cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "lang_guess")
      .crossJoin(broadcast(g)).crossJoin(broadcast(pe))
      .withColumn("kappa_num", col("n") * col("agree") - col("pe_sum"))
      .withColumn("kappa_den", col("n") * col("n") - col("pe_sum"))
      .withColumn("kappa",
        col("kappa_num").cast("double") / col("kappa_den").cast("double"))
      .select("lang", "lang_guess", "n_cell", "row_tot", "col_tot",
        "kappa_num", "kappa_den", "kappa")
      .orderBy("lang", "lang_guess")
  }

  private val o98 =
    """WITH lab AS (
      |  SELECT lang,
      |    CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |         WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS lang_guess
      |  FROM (
      |    SELECT lang,
      |      len(string_split_regex(lower(text), '\bthe\b')) - 1 + len(string_split_regex(lower(text), '\band\b')) - 1
      |        + len(string_split_regex(lower(text), '\bof\b')) - 1 + len(string_split_regex(lower(text), '\bis\b')) - 1 AS en_hits,
      |      len(string_split_regex(lower(text), '\ble\b')) - 1 + len(string_split_regex(lower(text), '\bla\b')) - 1
      |        + len(string_split_regex(lower(text), '\bet\b')) - 1 + len(string_split_regex(lower(text), '\best\b')) - 1 AS fr_hits,
      |      len(string_split_regex(lower(text), '\bder\b')) - 1 + len(string_split_regex(lower(text), '\bund\b')) - 1
      |        + len(string_split_regex(lower(text), '\bdie\b')) - 1 + len(string_split_regex(lower(text), '\bist\b')) - 1 AS de_hits
      |    FROM documents)),
      |cells AS (SELECT lang, lang_guess, count(*) AS n_cell FROM lab GROUP BY 1, 2),
      |r AS (SELECT lang, sum(n_cell) AS row_tot FROM cells GROUP BY 1),
      |c AS (SELECT lang_guess, sum(n_cell) AS col_tot FROM cells GROUP BY 1),
      |g AS (SELECT sum(n_cell) AS n,
      |             sum(CASE WHEN lang = lang_guess THEN n_cell ELSE 0 END) AS agree
      |      FROM cells),
      |pe AS (SELECT coalesce(sum(r.row_tot * c.col_tot), 0) AS pe_sum
      |       FROM r JOIN c ON r.lang = c.lang_guess)
      |SELECT cells.lang, cells.lang_guess, cells.n_cell,
      |       CAST(r.row_tot AS BIGINT) AS row_tot,
      |       CAST(c.col_tot AS BIGINT) AS col_tot,
      |       CAST(g.n * g.agree - pe.pe_sum AS BIGINT) AS kappa_num,
      |       CAST(g.n * g.n - pe.pe_sum AS BIGINT) AS kappa_den,
      |       CAST(g.n * g.agree - pe.pe_sum AS DOUBLE)
      |         / CAST(g.n * g.n - pe.pe_sum AS DOUBLE) AS kappa
      |FROM cells JOIN r USING (lang) JOIN c USING (lang_guess), g, pe
      |ORDER BY lang, lang_guess""".stripMargin

  /** Weighted PageRank (3 unrolled power iterations, damping 0.85) over
    * the event-type transition graph — the graph-centrality staple,
    * expressed as pure joins + aggregates so Catalyst plans each
    * iteration as a broadcast join of the small rank frame against the
    * big edge list. Engine-portable fixed point throughout: ranks live
    * at 10^12 scale, edge probabilities quantize to 2^20 (so
    * rank·share < 2^61 for ANY edge weights — no overflow at scale),
    * and every step is integer `div` (identical floor semantics in
    * Spark and DuckDB for the all-positive operands). Dangling nodes
    * (no out-edges) leak their mass — the documented lost-mass variant;
    * node count n is a driver-side action over the tiny node frame (the
    * q63 precedent). Edges scale with the corpus; nodes stay modest. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = 1000000000000L // rank scale
    val P = 1048576L       // 2^20 edge-probability scale
    val wo = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"))
      .withColumn("nxt", lead("event_type", 1).over(wo))
      .filter(col("nxt").isNotNull)
    // The edge frame is |event_type|²-bounded (tiny) but its DERIVATION
    // is the corpus-sized events scan + per-user window; eshare feeds
    // every power iteration and nodes every iteration plus the final
    // projection, so without eager materialization the events window
    // re-executes once per consumer inside the final plan (~7 scans for
    // 3 iterations). localCheckpoint both once: the corpus is scanned
    // once and the iterations run over the checkpointed tiny frames.
    val edges = ev.groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val outw = edges.groupBy("src").agg(sum("w").as("out_w"))
    val eshare = edges.join(outw, "src")
      .withColumn("share", expr(s"w * ${P}L div out_w"))
      .select("src", "dst", "share")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val n = nodes.count()
    val tele = (15L * (S / n)) / 100L
    var rank = nodes.withColumn("rank", lit(S / n))
    for (_ <- 1 to 3) {
      val inflow = eshare
        .join(broadcast(rank.withColumnRenamed("node", "src")), "src")
        .withColumn("c", expr(s"rank * share div ${P}L"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("infl"))
      rank = nodes.join(inflow, Seq("node"), "left")
        .withColumn("rank", lit(tele) + expr("85L * coalesce(infl, 0L) div 100L"))
        .select("node", "rank")
    }
    rank.withColumn("pr", col("rank").cast("double") / lit(S.toDouble))
      .select("node", "rank", "pr").orderBy("node")
  }

  private val o99 =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events),
      |edges AS (SELECT event_type AS src, nxt AS dst, count(*) AS w
      |          FROM ev WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY 1),
      |es AS (SELECT src, dst, (w * 1048576) // out_w AS share
      |       FROM edges JOIN outw USING (src)),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |g AS (SELECT count(*) AS n FROM nodes),
      |r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes, g),
      |i1 AS (SELECT dst AS node, sum((rank * share) // 1048576) AS infl
      |       FROM es JOIN r0 ON es.src = r0.node GROUP BY 1),
      |r1 AS (SELECT nodes.node,
      |         (15 * (1000000000000 // g.n)) // 100
      |           + (85 * coalesce(infl, 0)) // 100 AS rank
      |       FROM nodes LEFT JOIN i1 USING (node), g),
      |i2 AS (SELECT dst AS node, sum((rank * share) // 1048576) AS infl
      |       FROM es JOIN r1 ON es.src = r1.node GROUP BY 1),
      |r2 AS (SELECT nodes.node,
      |         (15 * (1000000000000 // g.n)) // 100
      |           + (85 * coalesce(infl, 0)) // 100 AS rank
      |       FROM nodes LEFT JOIN i2 USING (node), g),
      |i3 AS (SELECT dst AS node, sum((rank * share) // 1048576) AS infl
      |       FROM es JOIN r2 ON es.src = r2.node GROUP BY 1),
      |r3 AS (SELECT nodes.node,
      |         (15 * (1000000000000 // g.n)) // 100
      |           + (85 * coalesce(infl, 0)) // 100 AS rank
      |       FROM nodes LEFT JOIN i3 USING (node), g)
      |SELECT node, CAST(rank AS BIGINT) AS rank,
      |       CAST(rank AS DOUBLE) / 1000000000000.0 AS pr
      |FROM r3 ORDER BY node""".stripMargin

  /** Model calibration: reliability-diagram bins + expected calibration
    * error for event `value` (scaled to [0,1]) as a click predictor —
    * the calibration companion to q97's discrimination AUC. ZERO
    * cross-row float arithmetic: confidences quantize to integer cents
    * once per row, bins come from integer division of cents, per-bin
    * accumulators are exact longs, and the per-bin |accuracy −
    * confidence| gap folds into ECE through the exact integer
    * Σ|50000·n_pos − sum_cents| before ONE final division. One hash agg
    * over the corpus to 10 rows; the ECE scalar broadcasts back. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val bins = t(s, dir, "events")
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("pos"))
      .withColumn("bin", least(expr("cents div 5000L"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        sum("cents").as("sum_cents"))
    val ece = bins.agg(
      sum(abs(lit(50000L) * col("n_pos") - col("sum_cents"))).as("ece_num"),
      sum("n").as("nt"))
    bins.crossJoin(broadcast(ece))
      .withColumn("acc", col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("conf",
        col("sum_cents").cast("double") / (lit(50000L) * col("n")).cast("double"))
      .withColumn("ece",
        col("ece_num").cast("double") / (lit(50000L) * col("nt")).cast("double"))
      .select("bin", "n", "n_pos", "sum_cents", "acc", "conf", "ece_num", "ece")
      .orderBy("bin")
  }

  private val o100 =
    """WITH e AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |b AS (
      |  SELECT least(cents // 5000, 9) AS bin, count(*) AS n,
      |         CAST(sum(pos) AS BIGINT) AS n_pos,
      |         CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM e GROUP BY 1),
      |g AS (SELECT CAST(sum(abs(50000 * n_pos - sum_cents)) AS BIGINT) AS ece_num,
      |             CAST(sum(n) AS BIGINT) AS nt
      |      FROM b)
      |SELECT bin, n, n_pos, sum_cents,
      |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
      |       CAST(sum_cents AS DOUBLE) / CAST(50000 * n AS DOUBLE) AS conf,
      |       ece_num,
      |       CAST(ece_num AS DOUBLE) / CAST(50000 * nt AS DOUBLE) AS ece
      |FROM b, g ORDER BY bin""".stripMargin

  /** The q101 product-quantization codebooks: M=8 subspaces × K=16 codes
    * over the 64-dim embeddings, trained driver-locally on the bounded
    * deterministic sample ([[graft.functions.Pq.trainCodebooks]]) —
    * shared by the query and the [[Sidecars]] codebook dump. Memoized
    * per dataset dir like [[kmeansCentroids]]. */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private[graft] def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    codebookCache.computeIfAbsent(dir, _ =>
      graft.functions.Pq.trainCodebooks(t(s, dir, "embeddings"), dim = 64, m = 8, k = 16))

  /** IVF-PQ ANN — the compressed-vector completion of the similarity
    * stack (q16 exact → q27 LSH → q28 IVF+exact-rerank → q101 IVF+PQ):
    * coarse-quantizer list pruning (4 of 16 lists, the q66 quantizer)
    * followed by an asymmetric-distance rerank over 1-int-per-subspace
    * PQ codes — candidates carry ~8 small ints instead of 64 floats, the
    * shape that makes 10^12-vector rerank IO-feasible. ADC scores are
    * exact longs (per-(query,m,code) fixed-point quantization BEFORE the
    * per-candidate sum), so the ranking is bit-stable under any
    * partitioning. The oracle re-derives the ENTIRE pipeline in SQL over
    * the centroid + codebook sidecars: coarse assignment, probe lists,
    * code argmin, table quantization, integer ADC sum, top-k window. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(s, dir)
    val books = pqCodebooks(s, dir)
    graft.functions.Pq.ivfPqTopK(t(s, dir, "embeddings"),
        col("vec_id") % 100 === 0, 10, cents, books, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  private lazy val o101 =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents AS (SELECT cluster, centroid
       |          FROM read_parquet('${Sidecars.kmeansCentroidsPath}/*.parquet')),
       |lists AS (
       |  SELECT v.vec_id, c.cluster,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY list_dot_product(v.e, c.centroid) DESC, c.cluster) AS rn
       |  FROM e v, cents c),
       |assign AS (SELECT vec_id, cluster AS list FROM lists WHERE rn = 1),
       |probes AS (SELECT vec_id, cluster AS list FROM lists
       |           WHERE rn <= 4 AND vec_id % 100 = 0),
       |cb AS (SELECT m, code, centroid,
       |         list_dot_product(centroid, centroid) AS cc
       |       FROM read_parquet('${Sidecars.pqCodebookPath}/*.parquet')),
       |sub AS (SELECT v.vec_id, CAST(ms.m AS INT) AS m,
       |          list_slice(v.e, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |        FROM e v CROSS JOIN (SELECT range AS m FROM range(8)) ms),
       |dists AS (SELECT s.vec_id, s.m, c.code,
       |            c.cc - 2 * list_dot_product(s.sv, c.centroid) AS d
       |          FROM sub s JOIN cb c USING (m)),
       |codes AS (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |    FROM dists)
       |  WHERE rn = 1),
       |qtab AS (SELECT vec_id AS query_id, m, code,
       |           CAST(floor(d * 1048576.0) AS BIGINT) AS tq
       |         FROM dists WHERE vec_id % 100 = 0),
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |         FROM probes p JOIN assign a USING (list)
       |         WHERE p.vec_id <> a.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |             CAST(sum(q.tq) AS BIGINT) AS adc
       |           FROM cand
       |           JOIN codes k ON k.vec_id = cand.neighbor_id
       |           JOIN qtab q ON q.query_id = cand.query_id
       |                     AND q.m = k.m AND q.code = k.code
       |           GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY 1, 2""".stripMargin

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * where q29 is the exact all-pairs baseline, here vectors are first
    * bucketed by their nearest spherical-k-means centroid (the q66
    * coarse quantizer) and the exact fp64 cosine runs ONLY within a
    * cluster — the candidate generator is a plain equi-join on the
    * cluster id, so at 10^9+ vectors the pair count is Σ|cluster|² with
    * nList ~ √N keeping clusters bounded and AQE skew-split handling hot
    * clusters. Near-dups are injected exactly as q29 (+0.125 on dim 0 of
    * every 50th vector — a power of two, fp64-bit-exact in any engine)
    * so true pairs exist at every scale factor; the perturbation is tiny
    * enough to keep the copy in its source's cluster, and because the
    * oracle re-derives the SAME assignment from the centroid sidecar,
    * both engines agree on the bucketing regardless. Each dropped vector
    * reports its canonical (smallest matching a_id), cluster, match
    * count and floor(1000·max cos). */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val cents = kmeansCentroids(s, dir)
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // Same max+1 disjoint-range device as q29 (and mirrored in o102's
    // mx CTE): injected dup ids can never collide with real vec_ids.
    val mxRow = emb.agg(max("vec_id")).head()
    val dupOff = (if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)) + 1L // empty table: no rows to offset anyway
    val dups = emb.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(dupOff)).as("vec_id"),
        transform(col("e"), (x, i) => when(i === 0, x + 0.125).otherwise(x)).as("e"))
    val allv = emb.unionAll(dups)
      .withColumn("cluster",
        element_at(ec(graft.functions.IvfLists(ee(col("e")), cents, 1)), 1).cast("int"))
    val dot = ec(DotF64(ee(col("ae")), ee(col("be"))))
    def nrm(c: Column): Column = sqrt(ec(DotF64(ee(c), ee(c))))
    val a = allv.select(col("cluster"), col("vec_id").as("a_id"), col("e").as("ae"))
    val b = allv.select(col("cluster"), col("vec_id").as("b_id"), col("e").as("be"))
    a.join(b, Seq("cluster")).where(col("a_id") < col("b_id"))
      .withColumn("cos", dot / (nrm(col("ae")) * nrm(col("be"))))
      .where(col("cos") >= 0.98)
      .groupBy(col("cluster"), col("b_id").as("vec_id"))
      .agg(min("a_id").as("dup_of"), count(lit(1)).as("n_matches"),
        floor(max(col("cos")) * 1000).cast("int").as("cos_mil"))
      .select("vec_id", "cluster", "dup_of", "n_matches", "cos_mil")
      .orderBy("vec_id")
  }

  private lazy val o102 =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |mx AS (SELECT max(vec_id) + 1 AS off FROM base),
       |all_v AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + mx.off, list_prepend(e[1] + 0.125, e[2:])
       |  FROM base, mx WHERE vec_id % 50 = 0),
       |asg AS (SELECT vec_id, e, cluster FROM (
       |  SELECT v.vec_id, v.e, c.cluster,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY list_dot_product(v.e, c.centroid) DESC, c.cluster) AS rn
       |  FROM all_v v, read_parquet('${Sidecars.kmeansCentroidsPath}/*.parquet') c)
       |  WHERE rn = 1),
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
       |         list_dot_product(a.e, b.e)
       |           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
       |SELECT b_id AS vec_id, cluster, min(a_id) AS dup_of, count(*) AS n_matches,
       |       CAST(floor(max(cos) * 1000) AS INT) AS cos_mil
       |FROM pairs WHERE cos >= 0.98
       |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** Triangle census of the co-purchase graph (parts co-occurring in an
    * order) via degree-ordered node iteration — the standard distributed
    * triangle count (Suri & Vassilvitskii MapReduce formulation, public):
    * every undirected edge is oriented from its lower- to its
    * higher-(degree, id) endpoint, so each triangle is counted exactly
    * once at its lowest corner, and — the scale property — a hub of
    * degree d forms wedges only where it is the SMALLER endpoint,
    * bounding the out-degree by O(√|E|) per node instead of d².
    * Every join is an equi-join (orderkey for co-occurrence, node id for
    * degrees and adjacency lookups); closure is counted by sorted
    * adjacency-list intersection, never a wedge-row join. One
    * exact-integer census row;
    * the global closure fraction 3·triangles/wedges surfaces as a
    * floor'd per-mille integer so the compare is exact. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    // Co-occurrence edges WITHOUT the corpus self-join: pairs within an
    // order are local to that order, so one groupBy(ok) collects each
    // order's distinct sorted part set (collect_set ≡ the old
    // per-(ok,pk) distinct) and the q69-style in-row transform emits the
    // x < y pairs map-side — the (ok,pk) frame crosses ONE Exchange
    // (the groupBy) instead of three (distinct + both self-join sides),
    // and per-order part sets are small (order-line bounded) so no row
    // blows up. The edge list still feeds THREE consumers (deg, keyed,
    // ne); eager localCheckpoint makes the derivation run exactly once
    // instead of per-consumer under AQE. Same for deg (keyed's two
    // joins + census + the packing guard below).
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))""".stripMargin))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v")).distinct()
      .localCheckpoint(true)
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // Injectivity guard: k = deg·2^32 + id is order-preserving and
    // collision-free only while id < 2^32 and deg < 2^31 (signed-long
    // headroom); beyond that, distinct nodes would silently merge and
    // the oracle (same packing) could not catch it.
    val lim = deg.agg(max("node").as("mn"), max("deg").as("md")).head()
    require(lim.isNullAt(0) || // empty graph: nothing to pack
      (lim.getLong(0) < (1L << 32) && lim.getLong(1) < (1L << 31)),
      "q103 degree-ordered key packing requires node ids < 2^32 and degrees < 2^31")
    val keyed = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select((col("du") * 4294967296L + col("u")).as("ku"),
        (col("dv") * 4294967296L + col("v")).as("kv"))
    val o = keyed.select(least(col("ku"), col("kv")).as("sk"),
      greatest(col("ku"), col("kv")).as("dk")).localCheckpoint(true)
    // Closure via adjacency-list intersection (the GraphX formulation),
    // not wedge materialization: each triangle {a<b<c} is |N(a)∩N(b)| at
    // its (a,b) edge, so the job does |E| array intersections over
    // sorted out-neighbor lists instead of shuffling Σ outdeg² wedge
    // ROWS into a closure join — at sf0.1's dense co-purchase graph
    // that is 1.2M intersections vs 41M materialized wedges (measured
    // 1.3 s vs 9.6 s), and at 10^12 edges the wedge frame simply cannot
    // exist. Out-degree is bounded O(√|E|) by the degree orientation, so
    // each nbrs array (and thus every row) stays small; `adj` is
    // |nodes|-sized and localCheckpoint'd, so AQE sees its true size and
    // broadcasts both probe joins when it fits.
    val adj = o.groupBy(col("sk")).agg(sort_array(collect_list(col("dk"))).as("nbrs"))
      .localCheckpoint(true)
    val tri = o
      .join(adj.select(col("sk"), col("nbrs").as("nu")), "sk")
      .join(adj.select(col("sk").as("dk"), col("nbrs").as("nv")), Seq("dk"), "left")
      .agg(coalesce(sum(coalesce(size(array_intersect(col("nu"), col("nv"))), lit(0))), lit(0L))
        .cast("long").as("n_triangles")) // outer coalesce: empty edge set -> 0, matching the oracle's count(*)
    val census = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1L) div 2L")).as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    census.crossJoin(ne).crossJoin(tri)
      .withColumn("closure_pm", expr("3000L * n_triangles div n_wedges"))
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "closure_pm")
  }

  private val o103 =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      |d AS (SELECT node, count(*) AS deg FROM
      |        (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |k AS (SELECT least(du.deg * 4294967296 + e.u, dv.deg * 4294967296 + e.v) AS sk,
      |             greatest(du.deg * 4294967296 + e.u, dv.deg * 4294967296 + e.v) AS dk
      |      FROM e JOIN d du ON du.node = e.u JOIN d dv ON dv.node = e.v),
      |tri AS (SELECT count(*) AS t FROM k w1 JOIN k w2 ON w1.sk = w2.sk AND w1.dk < w2.dk
      |        JOIN k o ON o.sk = w1.dk AND o.dk = w2.dk)
      |SELECT (SELECT count(*) FROM d) AS n_nodes,
      |       (SELECT count(*) FROM e) AS n_edges,
      |       CAST((SELECT sum(deg * (deg - 1) // 2) FROM d) AS BIGINT) AS n_wedges,
      |       (SELECT t FROM tri) AS n_triangles,
      |       (3000 * (SELECT t FROM tri))
      |         // CAST((SELECT sum(deg * (deg - 1) // 2) FROM d) AS BIGINT) AS closure_pm""".stripMargin

  /** Feature co-activation gram over the embedding column — the dim×dim
    * upper triangle of Σ_rows x_i·x_j, the one-pass statistic behind
    * covariance / PCA feature preparation. Per row the 2080 cell
    * products quantize to fixed-point longs (floor(x_i·x_j·2^20), all
    * builtin higher-order functions — codegen'd, no custom scalar), then
    * the new [[graft.functions.LongArraySum]] bounded-state aggregate
    * sums them element-wise in a fixed 2080-long buffer: map-side
    * combine applies and the shuffle carries exactly 2080 longs per
    * partition — versus the posexplode+groupBy(pos) spelling that
    * shuffles N·2080 rows (2·10^15 records at corpus scale). Output:
    * top-20 off-diagonal cells by |gram|, ties to the smaller (i, j). */
  /** The one-pass distributed gram collection shared by q104 and q110:
    * a single row whose `g` column holds the 2080 exact fixed-point
    * upper-triangle sums ([[graft.functions.LongArraySum]]). */
  private def gramFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val dim = 64
    // fused [[graft.functions.GramSum]]: one primitive-loop pass per row
    // straight off the embedding array — same cell math, same bounded
    // 2080-long buffer, but no per-row 2080-cell scratch array and no
    // interpreted nested-transform lambdas (the former spelling's
    // dominant per-task cost; equality pinned by the OperatorsSpec
    // differential test against the transform+LongArraySum plan)
    t(s, dir, "embeddings")
      .agg(GraftBridge.column(
        graft.functions.GramSum(GraftBridge.expression(col("embedding")), dim)
          .toAggregateExpression()).as("g"))
  }

  private def q104(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val summed = gramFrame(s, dir)
    val ij = (for { i <- 0 until dim; j <- i until dim } yield (i, j))
      .zipWithIndex.map { case ((i, j), p) => (p, i, j) }
    val ijDf = s.createDataFrame(ij).toDF("pos", "i", "j")
    summed.select(posexplode(col("g")).as(Seq("pos", "gram")))
      .join(broadcast(ijDf), "pos")
      .where(col("i") < col("j"))
      .orderBy(abs(col("gram")).desc, col("i"), col("j"))
      .limit(20)
      .select("i", "j", "gram")
  }

  private val o104 =
    """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |cells AS (
      |  SELECT i, j,
      |         CAST(floor(e[CAST(i + 1 AS INT)] * e[CAST(j + 1 AS INT)] * 1048576.0) AS BIGINT) AS v
      |  FROM e, (SELECT a.range AS i, b.range AS j
      |           FROM range(64) a, range(64) b WHERE a.range <= b.range)),
      |g AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(sum(v) AS BIGINT) AS gram
      |      FROM cells GROUP BY 1, 2)
      |SELECT i, j, gram FROM g WHERE i < j
      |ORDER BY abs(gram) DESC, i, j LIMIT 20""".stripMargin

  /** Systematic probability-proportional-to-size sampling — n=100 picks
    * over documents weighted by n_chars, the corpus-curation primitive
    * for "sample documents proportional to token count". The weight line
    * [0, T) is cut at the n odd multiples m·T/(2n); the doc whose
    * cumulative-weight interval [cum−w, cum) contains a cut is picked
    * (heavy docs can be picked more than once — that multiplicity IS
    * pps-with-replacement semantics). Cumulative weights come from the
    * distributed two-pass [[graft.functions.PrefixSum]] (no
    * SinglePartition window), and pick assignment is a per-row integer
    * computation (2n·cb ≤ m·T < 2n·cum, all longs — no float, no range
    * join): one narrow map-only pass after the prefix sum, versus the
    * oracle's n×N inequality join. Exactly n rows at every scale. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val n = 100L
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val total = docs.agg(sum("w")).head().getLong(0)
    graft.functions.PrefixSum.runningTotal(docs, "doc_id", "w", "cum")
      .withColumn("cb", col("cum") - col("w"))
      .withColumn("m_lo", expr(s"(2L * ${n}L * cb + ${total}L - 1L) div ${total}L"))
      .withColumn("m_lo", expr("m_lo + CAST(m_lo % 2L = 0L AS BIGINT)"))
      .withColumn("m_hi", expr(s"(2L * ${n}L * cum - 1L) div ${total}L"))
      .withColumn("m_hi", expr("m_hi - CAST(m_hi % 2L = 0L AS BIGINT)"))
      .where(col("m_hi") >= col("m_lo"))
      .select(explode(expr("sequence(m_lo, m_hi, 2L)")).as("m"), col("doc_id"), col("w"))
      .select(expr("(m - 1L) div 2L").as("k"), col("doc_id"), col("w"))
      .orderBy("k")
  }

  private val o105 =
    """WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |                  CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      |           FROM documents),
      |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t FROM documents),
      |picks AS (SELECT range AS k FROM range(100))
      |SELECT k, doc_id, w
      |FROM picks, w, tot
      |WHERE 200 * (cum - w) <= (2 * k + 1) * t AND (2 * k + 1) * t < 200 * cum
      |ORDER BY k""".stripMargin

  /** Manifest-pruned snapshot-table scan — the Iceberg table-format
    * mechanics (immutable data files, versioned manifests with per-file
    * min/max stats, snapshot isolation, file skipping) over the events
    * table built as three range-keyed commits in Verify's setup
    * ([[Sidecars]], [[graft.sources.SnapshotTable]]). The event_id range
    * prunes whole files at the MANIFEST level before any scan task
    * launches — at 10^12 images that planning step is the difference
    * between reading the query box and reading the table. The oracle
    * runs the same range over the PLAIN events table: file skipping must
    * be invisible in the result (and a stale snapshot from another run
    * or scale factor mismatches loudly — the inverted staleness
    * contract). Time travel + isolation are pinned in OperatorsSpec. */
  private def q106(s: SparkSession, dir: String): DataFrame =
    graft.sources.SnapshotTable.scan(s, Sidecars.snapshotEventsPath,
        Seq(graft.sources.SnapshotTable.Range("event_id", 101, 757)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy("event_type")

  private val o106 =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id BETWEEN 101 AND 757
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Prefix-filtered exact set-similarity self-join (the All-Pairs /
    * PPJoin family) at Jaccard ≥ 19/20 — the scale path completing the
    * Jaccard story: q17 is the deliberate crossJoin baseline, q25 the
    * probabilistic MinHash-LSH candidate generator, and this operator is
    * EXACT like q17 but with the all-pairs product replaced by a
    * rarest-first prefix-token equi-join + integer length filter + exact
    * verification ([[graft.functions.SetSimJoin]] — no false negatives
    * by the prefix-filtering lemma). The oracle is the full quadratic
    * join in SQL: the engine must reproduce brute force EXACTLY. The
    * synthetic corpus is adversarially dense (small shared vocabulary,
    * most pairs similar), which stresses the verification stage; on a
    * natural corpus the rarest-first prefixes make candidate buckets
    * tiny. Integer threshold: 20·|a∩b| ≥ 19·|a∪b|. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("words"))
    graft.functions.SetSimJoin.jaccardSelfJoin(docs, "doc_id", "words", 19L, 20L)
      .orderBy("a_id", "b_id")
  }

  private val o107 =
    """WITH d AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
      |           FROM documents),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        CAST(len(list_intersect(a.w, b.w)) AS INT) AS n_common,
      |        CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS INT) AS n_union
      |      FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |SELECT a_id, b_id, n_common, n_union
      |FROM p WHERE n_common * 20 >= n_union * 19 ORDER BY 1, 2""".stripMargin

  /** The q108 CCL input: the full synthetic tile mosaic at this scale's
    * grid, shared by the query and the [[Sidecars]] fragment dump. */
  private[graft] def cclTiles(s: SparkSession, dir: String): DataFrame = {
    val (gw, gh, _) = syntheticScale(dir)
    Synthetic.tiles(s, gw, gh, 64)
  }

  /** Distributed connected-component labeling of the mosaic's vegetation
    * mask ([[graft.pipeline.MosaicCcl]]): per-tile union-find labeling
    * (one decode per tile, raster-scan-deterministic fragment ids) +
    * cross-tile stitching via a boundary equi-join feeding the q47
    * min-label ConnectedComponents over the fragment graph — pixels
    * never shuffle, so the shape holds on a 10^12-tile national mosaic.
    * Output: top-20 components by exact pixel count (ties to the
    * smaller component id). The oracle re-derives the ENTIRE cross-tile
    * merge — interface pairing, min-label closure, component stats — in
    * recursive SQL over the fragment sidecar; per-tile labeling itself
    * is pinned by the stitched-mosaic differential test in
    * OperatorsSpec. */
  private def q108(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.MosaicCcl.components(cclTiles(s, dir), "greenleaf")
      .orderBy(col("n_pixels").desc, col("component")).limit(20)

  private lazy val o108 =
    s"""WITH RECURSIVE n AS (
       |  SELECT node_id, size FROM read_parquet('${Sidecars.cclNodesPath}/*.parquet')),
       |cl AS (SELECT ifc_key, node_id FROM read_parquet('${Sidecars.cclClaimsPath}/*.parquet')),
       |e0 AS (SELECT min(node_id) AS src, max(node_id) AS dst FROM cl
       |       GROUP BY ifc_key HAVING count(*) = 2 AND min(node_id) <> max(node_id)),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |cc(id, lbl) AS (
       |  SELECT node_id, node_id FROM n
       |  UNION
       |  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.id),
       |lab AS (SELECT id, min(lbl) AS component FROM cc GROUP BY 1)
       |SELECT l.component, count(*) AS n_fragments, CAST(sum(n.size) AS BIGINT) AS n_pixels
       |FROM lab l JOIN n ON n.node_id = l.id
       |GROUP BY 1 ORDER BY n_pixels DESC, component LIMIT 20""".stripMargin

  /** Streaming HLL distinct-count sketch: register maintenance runs as a
    * Structured-Streaming stateful aggregation
    * ([[graft.streaming.Streams.hllRegisters]], one file per micro-batch
    * so cross-batch merge genuinely happens) and must converge to the
    * SAME registers as batch q81 — max-register state is associative,
    * commutative and idempotent, the re-aggregatable-sketch contract
    * carried into streaming. The estimate folds from the final register
    * table ([[graft.functions.Hll.estimate]]); the oracle re-derives
    * registers + fold from the events table in SQL, so streaming ≡
    * batch ≡ SQL bit-for-bit (single IEEE division at the end). */
  private def q109(s: SparkSession, dir: String): DataFrame =
    graft.functions.Hll.estimate(
        graft.streaming.Streams.hllRegisters(s, s"$dir/events.parquet"), "event_type")
      .orderBy("event_type")

  private lazy val o109 =
    s"""WITH h AS (
       |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |b AS (
       |  SELECT event_type,
       |         CAST(('0x' || substr(h, 1, 3)) AS BIGINT) % 1024 AS bucket,
       |         CAST(('0x' || substr(h, 4, 13)) AS BIGINT) AS w
       |  FROM h),
       |rho AS (
       |  SELECT event_type, bucket,
       |         CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
       |  FROM b),
       |regs AS (
       |  SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
       |sums AS (
       |  SELECT event_type, sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER)) AS s_used,
       |         count(*) AS n_used
       |  FROM regs GROUP BY 1)
       |SELECT event_type, n_used,
       |       CAST(s_used + (1024 - n_used) * 9007199254740992 AS BIGINT) AS s_total,
       |       ${HllScale} / CAST(s_used + (1024 - n_used) * 9007199254740992 AS DOUBLE) AS est
       |FROM sums ORDER BY 1""".stripMargin

  /** First principal direction by power iteration over the exact-integer
    * gram — completing q104 into the covariance→PCA feature-prep
    * pipeline. The distributed work is ONE gram pass (the bounded
    * [[graft.functions.LongArraySum]] aggregate — 2080 longs cross the
    * wire, never N·2080 rows); the 64×64 eigen-iteration is O(dim²)
    * driver math (like the IVF/PQ training devices: bounded, not
    * data-sized), and the projection is one map-only fold per row.
    * Determinism without libm: the gram longs cast exactly to doubles
    * (< 2^53), every matrix-vector product folds ascending-j (the
    * proven list_dot_product ≡ fold equivalence), each iteration
    * rescales by max|v_i| (an exact max + one IEEE division — no sqrt
    * norm), v₀ is the basis vector of the largest diagonal (ties to the
    * smaller index), and the per-vector score quantizes at the end —
    * the oracle re-runs the ENTIRE derivation (gram, 8 unrolled
    * iterations, projection) in SQL and must match bit-for-bit. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val cells = gramFrame(s, dir).head().getSeq[Long](0)
    val g = Array.ofDim[Double](dim, dim)
    var p = 0
    for (i <- 0 until dim; j <- i until dim) {
      g(i)(j) = cells(p).toDouble; g(j)(i) = cells(p).toDouble; p += 1
    }
    var k0 = 0
    for (i <- 1 until dim) if (g(i)(i) > g(k0)(k0)) k0 = i
    var v = Array.tabulate(dim)(i => if (i == k0) 1.0 else 0.0)
    for (_ <- 1 to 8) {
      val nv = Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        acc
      }
      var m = 0.0
      nv.foreach(x => m = math.max(m, math.abs(x)))
      v = nv.map(_ / m)
    }
    import graft.pipeline.Exprs.{col => ec2, expr => ee2}
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("pc1_micro",
        floor(ec2(DotF64(ee2(col("e")), ee2(vLit))) * 1048576.0).cast("long"))
      .select("vec_id", "pc1_micro").orderBy("vec_id")
  }

  private lazy val o110 = {
    val iters = (1 to 8).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""i$k AS (SELECT g.i, list_dot_product(g.row, $prev.v) AS x FROM grows g, $prev),
         |m$k AS (SELECT max(abs(x)) AS m FROM i$k),
         |v$k AS (SELECT list(x / m$k.m ORDER BY i) AS v FROM i$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |cells AS (
       |  SELECT i, j,
       |         CAST(floor(e[CAST(i + 1 AS INT)] * e[CAST(j + 1 AS INT)] * 1048576.0) AS BIGINT) AS v
       |  FROM e, (SELECT a.range AS i, b.range AS j
       |           FROM range(64) a, range(64) b WHERE a.range <= b.range)),
       |gut AS (SELECT i, j, CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) AS g
       |        FROM cells GROUP BY 1, 2),
       |gfull AS (SELECT i, j, g FROM gut UNION ALL SELECT j, i, g FROM gut WHERE i < j),
       |grows AS (SELECT i, list(g ORDER BY j) AS row FROM gfull GROUP BY i),
       |diag AS (SELECT i AS k0 FROM gut WHERE i = j ORDER BY g DESC, i LIMIT 1),
       |v0 AS (SELECT list_transform(range(64),
       |         x -> CASE WHEN x = d.k0 THEN 1.0 ELSE 0.0 END) AS v FROM diag d),
       |$iters
       |SELECT e.vec_id,
       |       CAST(floor(list_dot_product(e.e, v8.v) * 1048576.0) AS BIGINT) AS pc1_micro
       |FROM e, v8 ORDER BY vec_id""".stripMargin
  }

  /** Frequency-smoothed negative sampling for contrastive training
    * (the word2vec f^(3/4) distribution): k=8 deterministic negatives
    * per anchor document, picked proportional to smoothed token
    * frequency by systematic cuts with an md5-derived per-anchor
    * rotation ([[graft.functions.SampleNegatives]]). The weight
    * dictionary is DICTIONARY-sized and rides the task binary as a
    * broadcast array (the IvfLists/PqCodes device); anchors are the
    * data-sized side and resolution is a per-row binary search —
    * map-only, no range join. The f^(3/4) smoothing is
    * floor(sqrt(floor(sqrt(f³)))): sqrt is correctly rounded under
    * IEEE 754 (unlike pow/ln), so both engines agree bit-for-bit; the
    * vocabulary window is bounded by the token dictionary (31 here),
    * like q90's |sources| window — never by the corpus. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import org.apache.spark.sql.expressions.Window
    val vocab = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("f"))
      // f cast to double BEFORE cubing: long f*f*f silently wraps above
      // f ≈ 2^21 (realistic corpus token frequencies); IEEE double
      // multiply is bit-identical in Spark and DuckDB so the oracle
      // mirrors the same cast (left-assoc (f·f)·f both sides).
      .withColumn("w", floor(sqrt(
        floor(sqrt(col("f").cast("double") * col("f") * col("f"))).cast("double"))).cast("long"))
      .withColumn("rank", row_number().over(Window.orderBy("tok")))
      .withColumn("cum", sum("w").over(Window.orderBy("rank")))
      .select("rank", "tok", "w", "cum")
      // dictionary-sized, two consumers (the cumulative-table collect
      // and the broadcast join): materialize once so the corpus
      // explode+groupBy doesn't run per consumer
      .localCheckpoint(true)
    val d = vocab.orderBy("rank").collect()
    val cum = d.map(_.getLong(3))
    val picks = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"),
        posexplode(ec(graft.functions.SampleNegatives(ee(col("doc_id")), cum, 8)))
          .as(Seq("j", "idx")))
    picks.join(broadcast(vocab.withColumn("idx", col("rank") - 1)), "idx")
      .select(col("doc_id"), col("j"), col("tok").as("neg_token"), col("w"))
      .orderBy("doc_id", "j")
  }

  private val o111 =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, count(*) AS f FROM toks WHERE tok <> '' GROUP BY 1),
      |wt AS (SELECT tok,
      |         CAST(floor(sqrt(CAST(CAST(floor(sqrt(CAST(f AS DOUBLE) * f * f)) AS BIGINT) AS DOUBLE))) AS BIGINT) AS w,
      |         row_number() OVER (ORDER BY tok) AS rank
      |       FROM vocab),
      |c AS (SELECT tok, w, rank,
      |        CAST(sum(w) OVER (ORDER BY rank) AS BIGINT) AS cum FROM wt),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM wt),
      |anchors AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 50 = 0),
      |picks AS (
      |  SELECT a.doc_id, j.range AS j,
      |         (a.h % tot.t + (j.range * tot.t) // 8) % tot.t AS p
      |  FROM anchors a, range(8) j, tot)
      |SELECT p.doc_id, CAST(p.j AS INT) AS j, c.tok AS neg_token, c.w
      |FROM picks p JOIN c ON c.cum - c.w <= p.p AND p.p < c.cum
      |ORDER BY doc_id, j""".stripMargin

  /** Unicode-normalized dedup keys ([[graft.functions.NormalizeText]]:
    * NFC → accent strip → root-locale lowercase → whitespace collapse)
    * over the deterministic non-ASCII fixture corpus — the
    * canonicalization in front of exact-hash dedup (q11) on a
    * multilingual crawl, where precomposed U+00E9 and decomposed
    * e+U+0301 are byte-different spellings of the same text (the
    * driver testdata is ASCII-only at every scale factor, hence the
    * fixture; it also discharges the documented o23 ASCII caveat by
    * exercising the non-ASCII regime somewhere). The oracle computes
    * the SAME chain with DuckDB's utf8proc (nfc_normalize /
    * strip_accents / lower / regexp collapse) — two independent Unicode
    * implementations must produce identical keys and identical dup
    * groups. Map-only scalar + one dedup groupBy: the q11 scale
    * shape. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    s.read.parquet(Sidecars.unicodeDocsPath)
      .select(col("uid"), ec(graft.functions.NormalizeText(ee(col("text")))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_docs"), min("uid").as("canonical"),
        expr("array_join(sort_array(collect_list(cast(uid as string))), ',')").as("ids"))
      .select(col("k").as("norm_key"), col("n_docs"), col("canonical"), col("ids"))
      .orderBy("norm_key")
  }

  private lazy val o112 =
    s"""WITH n AS (
       |  SELECT uid,
       |         regexp_replace(
       |           regexp_replace(lower(strip_accents(nfc_normalize(text))),
       |                          '^[ \\t\\n\\r]+|[ \\t\\n\\r]+$$', '', 'g'),
       |           '[ \\t\\n\\r]+', ' ', 'g') AS k
       |  FROM read_parquet('${Sidecars.unicodeDocsPath}/*.parquet'))
       |SELECT k AS norm_key, count(*) AS n_docs, min(uid) AS canonical,
       |       string_agg(CAST(uid AS VARCHAR), ',' ORDER BY CAST(uid AS VARCHAR)) AS ids
       |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q113 input: the synthetic tile mosaic with the engine-measured
    * vegetation pixel count (sum of the [[graft.kernel.TileComponents]]
    * fragment sizes — decode happens HERE, the one step no SQL engine
    * can do) and every 7th caption deterministically corrupted (declared
    * block count incremented), so the consistency check has real
    * negatives at every scale. Shared by the query and the [[Sidecars]]
    * dump, phashBase-style. */
  private[graft] def captionTiles(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    cclTiles(s, dir)
      .withColumn("c", ec(graft.kernel.TileComponents(ee(col("bytes")), "greenleaf")))
      .select(col("image_id"), col("caption"),
        expr("aggregate(c.sizes, CAST(0 AS BIGINT), (a, x) -> a + x)").as("measured_veg"))
      .withColumn("declared0",
        regexp_extract(col("caption"), "veg_blocks=(\\d+)/", 1).cast("long"))
      .withColumn("caption", when(pmod(xxhash64(col("image_id")), lit(7L)) === 0L,
          regexp_replace(col("caption"), lit("veg_blocks=\\d+/"),
            concat(lit("veg_blocks="), (col("declared0") + 1).cast("string"), lit("/"))))
        .otherwise(col("caption")))
      .select("image_id", "caption", "measured_veg")
  }

  /** Caption↔image consistency audit — the multimodal curation check the
    * input_hint's caption column exists for: parse the caption's
    * declared vegetation blocks, compare with the pixel truth measured
    * from the DECODED image (greenleaf mask; each declared block is
    * exactly 64 vegetation pixels in this corpus), and flag
    * disagreements — mislabeled captions are training-data poison at
    * 10^12 pairs, and this map-only scan is how you find them. Decode is
    * engine-side (the sidecar carries the measured counts); the oracle
    * re-runs the parse + expectation + verdict algebra in SQL over the
    * same frame, including the deterministically corrupted captions
    * which MUST flag inconsistent. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    captionTiles(s, dir)
      .withColumn("declared",
        regexp_extract(col("caption"), "veg_blocks=(\\d+)/", 1).cast("long"))
      .select(col("image_id"), col("declared"), col("measured_veg"),
        (col("declared") * 64L === col("measured_veg")).cast("int").as("consistent"))
      .orderBy("image_id")

  private lazy val o113 =
    s"""SELECT image_id,
       |       CAST(regexp_extract(caption, 'veg_blocks=(\\d+)/', 1) AS BIGINT) AS declared,
       |       measured_veg,
       |       CAST(CAST(regexp_extract(caption, 'veg_blocks=(\\d+)/', 1) AS BIGINT) * 64
       |            = measured_veg AS INT) AS consistent
       |FROM read_parquet('${Sidecars.captionTilesPath}/*.parquet')
       |ORDER BY image_id""".stripMargin

  /** q15's BPE-ish pretokenizer over the NON-ASCII fixture corpus: real
    * corpora are not ASCII, so the Java-regex (Spark codegen'd
    * regexp_count) vs RE2 (DuckDB) agreement must hold where accented
    * letters fall into the `[^a-zA-Z0-9\s']+` residual class and \r/\t
    * boundaries fall into `\s+`. Both engines use ASCII \s and operate
    * per BMP codepoint, so the counts are exactly comparable. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val bpe = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+|\\s+"
    s.read.parquet(Sidecars.unicodeDocsPath).select(col("uid"),
        regexp_count(col("text"), lit(bpe)).as("n_bpe"),
        regexp_count(col("text"), lit(" ?[a-zA-Z]+")).as("n_word"),
        regexp_count(col("text"), lit("\\s+")).as("n_ws"))
      .orderBy("uid")
  }

  private lazy val o114 =
    s"""SELECT uid,
       |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s'']+|\\s+')) AS INT) AS n_bpe,
       |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+')) AS INT) AS n_word,
       |  CAST(len(regexp_extract_all(text, '\\s+')) AS INT) AS n_ws
       |FROM read_parquet('${Sidecars.unicodeDocsPath}/*.parquet') ORDER BY 1""".stripMargin

  /** q23's winnowed Rabin-Karp fingerprints over the NON-ASCII fixture —
    * discharging o23's documented ASCII caveat for real: the engine
    * hashes UTF-8 BYTES ([[graft.functions.TextHash.rollingHashes]]
    * uses getBytes), so this oracle derives the byte stream in portable
    * SQL via hex(encode(text)) (two hex chars per byte) instead of
    * codepoint ord() — on "Café" the é contributes TWO k-gram positions
    * (0xC3, 0xA9), which a codepoint oracle would get wrong. */
  private def q115(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Sidecars.unicodeDocsPath).select(col("uid"),
        Exprs.col(Fingerprint(Exprs.expr(col("text")))).as("fps"))
      .select(col("uid"), size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"),
        when(size(col("fps")) === 0, lit(null).cast("long"))
          .otherwise(aggregate(col("fps"), lit(0L), (a, x) => a.bitwiseXOR(x)))
          .as("fp_xor"))
      .orderBy("uid")

  private lazy val o115 =
    s"""WITH src AS (
       |  SELECT uid, hex(encode(text)) AS hx, octet_length(encode(text)) AS L
       |  FROM read_parquet('${Sidecars.unicodeDocsPath}/*.parquet')),
       |pos AS (
       |  SELECT uid, L, unnest(range(L - 4)) AS i, hx FROM src WHERE L >= 5),
       |h AS (
       |  SELECT uid, L - 4 AS nh, i,
       |         CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS BIGINT) * 4362470401
       |       + CAST(('0x' || substr(hx, CAST(2*i+3 AS INT), 2)) AS BIGINT) * 16974593
       |       + CAST(('0x' || substr(hx, CAST(2*i+5 AS INT), 2)) AS BIGINT) * 66049
       |       + CAST(('0x' || substr(hx, CAST(2*i+7 AS INT), 2)) AS BIGINT) * 257
       |       + CAST(('0x' || substr(hx, CAST(2*i+9 AS INT), 2)) AS BIGINT) AS hv
       |  FROM pos),
       |short AS (
       |  SELECT uid, min(hv) AS fp, 0 AS wi FROM h WHERE nh <= 4 GROUP BY uid),
       |wm AS (
       |  SELECT uid, i AS wi,
       |         min(hv) OVER (PARTITION BY uid ORDER BY i
       |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |         nh
       |  FROM h QUALIFY nh > 4 AND i <= nh - 4),
       |dedup AS (
       |  SELECT uid, fp FROM (
       |    SELECT uid, fp, lag(fp) OVER (PARTITION BY uid ORDER BY wi) AS prev FROM wm)
       |  WHERE prev IS NULL OR fp <> prev
       |  UNION ALL SELECT uid, fp FROM short),
       |agg AS (
       |  SELECT uid, CAST(count(*) AS INT) AS n_fp, min(fp) AS min_fp,
       |         max(fp) AS max_fp, bit_xor(fp) AS fp_xor
       |  FROM dedup GROUP BY 1)
       |SELECT d.uid, COALESCE(a.n_fp, 0) AS n_fp, a.min_fp, a.max_fp, a.fp_xor
       |FROM read_parquet('${Sidecars.unicodeDocsPath}/*.parquet') d
       |LEFT JOIN agg a USING (uid) ORDER BY 1""".stripMargin

  /** q24's SimHash near-dup pipeline over the NON-ASCII fixture: token
    * md5 hashes both engines compute over the token's UTF-8 bytes, so
    * precomposed-vs-decomposed accent spellings hash DIFFERENTLY (they
    * are different byte strings — dedup across them is q112's
    * normalization job), while case/whitespace variants of the same
    * byte-level tokens collide into hamming-0 pairs. The oracle
    * re-derives the full vote/band/bucket/hamming pipeline in SQL. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val sh = s.read.parquet(Sidecars.unicodeDocsPath).select(col("uid"),
      Exprs.col(SimHash64(Exprs.expr(split(lower(col("text")), "\\s+")))).as("simhash"))
    graft.functions.NearDup.bandedSelfJoin(sh, "uid", "simhash",
        bandBits = 16, maxHamming = 16)
      .orderBy("a_id", "b_id")
  }

  private lazy val o116 =
    s"""WITH toks AS (
       |  SELECT uid, unnest(string_split_regex(lower(text), '\\s+')) AS tok
       |  FROM read_parquet('${Sidecars.unicodeDocsPath}/*.parquet')),
       |th AS (
       |  SELECT uid, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
       |votes AS (
       |  SELECT uid, bits.b AS b,
       |         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, (SELECT unnest(range(64)) AS b) bits
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT uid,
       |         CAST(sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END) AS UBIGINT) AS u
       |  FROM votes GROUP BY 1),
       |bands AS (
       |  SELECT uid, u, bd.band AS band, (u >> (bd.band * 16)) & 65535 AS bucket
       |  FROM sh, (SELECT unnest(range(4)) AS band) bd),
       |pairs AS (
       |  SELECT DISTINCT a.uid AS a_id, b.uid AS b_id, a.u AS au, b.u AS bu
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.uid < b.uid)
       |SELECT a_id, b_id, CAST(bit_count(xor(au, bu)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(au, bu)) <= 16 ORDER BY 1, 2""".stripMargin

  /** Duplicate-span COALESCING: q60 flags every duplicated 8-token
    * window; the operator a dedup pipeline actually needs downstream is
    * the set of MAXIMAL contiguous duplicated regions per document (the
    * byte ranges you cut, Lee et al. 2022 §3 "we remove the duplicated
    * span"), because overlapping windows of one long duplicated passage
    * must become ONE cut, not L-w+1 cuts. Classic interval coalescing,
    * distributed: flagged window positions sweep per document — a region
    * opens where a span starts past the running max end of everything
    * before it — then per-region min/max and per-doc stats. Token ranges
    * are discrete, so TOUCHING spans ([0,7] then [8,15]) also merge:
    * a new region needs a gap, s > prev_max_end + 1.
    *
    * Scale shape: identical exchange profile to q60 (60-bit window keys,
    * two hash aggs, one equi-join) plus ONE analytic window partitioned
    * by doc_id — per-partition state is bounded by a single document's
    * spans, so no key concentrates more than one doc and nothing is ever
    * single-partition (contrast WindowExec with no partition spec). */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val wins = t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(ws) - $w),
           |          i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, $w))), 1, 15), 16, 10) as bigint))""".stripMargin)))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
    val dupKeys = wins.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd")).where(col("nd") >= 2).select("h")
    val spans = wins.join(dupKeys, "h")
      .select(col("doc_id"), col("i").cast("long").as("s"),
        (col("i").cast("long") + (w - 1)).as("e")) // long BEFORE +: no int wrap at extreme doc lengths
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val regions = spans
      .withColumn("pme", max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_r",
        when(col("s") > coalesce(col("pme"), lit(Long.MinValue)) + 1L, 1L).otherwise(0L))
      .withColumn("rid", sum("new_r").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "rid").agg(min("s").as("rs"), max("e").as("re"))
    val perDoc = regions.groupBy("doc_id").agg(
      count(lit(1)).as("n_regions"),
      sum(col("re") - col("rs") + 1L).as("covered_tokens"),
      max(col("re") - col("rs") + 1L).as("longest_region"))
    t(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("longest_region"), lit(0L)).as("longest_region"))
      .orderBy("doc_id")
  }

  private val o117 =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |w AS (
      |  SELECT doc_id, i,
      |         CAST(('0x' || substr(md5(array_to_string(
      |                list_slice(ws, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')), 1, 15))
      |              AS BIGINT) AS h
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8)),
      |nd AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM w) GROUP BY h HAVING count(*) >= 2),
      |sp AS (SELECT doc_id, i AS s, i + 7 AS e FROM w JOIN nd USING (h)),
      |m AS (SELECT doc_id, s, e,
      |             max(e) OVER (PARTITION BY doc_id ORDER BY s
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM sp),
      |r AS (SELECT doc_id, s, e,
      |             sum(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS rid
      |      FROM m),
      |g AS (SELECT doc_id, rid, min(s) AS rs, max(e) AS re FROM r GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_regions,
      |               CAST(sum(re - rs + 1) AS BIGINT) AS covered_tokens,
      |               CAST(max(re - rs + 1) AS BIGINT) AS longest_region
      |        FROM g GROUP BY 1)
      |SELECT d2.doc_id,
      |       CAST(COALESCE(n_regions, 0) AS BIGINT) AS n_regions,
      |       CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
      |       CAST(COALESCE(longest_region, 0) AS BIGINT) AS longest_region
      |FROM documents d2 LEFT JOIN agg USING (doc_id) ORDER BY 1""".stripMargin

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res,
    * Inf. Proc. Letters 97(5), 2006): each item draws an exponential
    * race key -ln(u)/w — the k SMALLEST keys are a weight-proportional
    * sample without replacement, the one-pass distributed answer to
    * "sample 100 documents proportional to length" (q105's PPS is
    * systematic WITH-replacement over a prefix sum; this is the
    * complementary without-replacement family, and needs no prefix sum
    * at all). u derives from the md5 of doc_id (deterministic, seeded by
    * data identity like q46/q49), w = n_chars.
    *
    * Scale shape: map-only key computation, then a global top-k that
    * Spark plans as TakeOrderedAndProject — per-partition bounded heaps
    * merged at the driver, k rows each; the corpus itself never
    * shuffles. The race key is float-valued and the two engines' ln
    * differ by ~2 ulp on some inputs (Spark's codegen log intrinsic vs
    * DuckDB's libm), so the key itself is NOT part of the contract — the
    * SAMPLE is: which doc_ids win the race is stable under ulp noise
    * unless two keys coincide to ~1e-15 relative, and the output is the
    * selected (doc_id, weight) set re-ordered by doc_id. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("weight"),
        expr("(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) + 1) / 1152921504606846976.0").as("u"))
      .withColumn("key", -log(col("u")) / col("weight").cast("double"))
      .orderBy(col("key"), col("doc_id"))
      .limit(k)
      .select("doc_id", "weight")
      .orderBy("doc_id")
  }

  private val o118 =
    """SELECT doc_id, weight FROM (
      |  SELECT doc_id, n_chars AS weight,
      |         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
      |             / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS key
      |  FROM documents ORDER BY key, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  /** Containment join over the documents table — see
    * [[graft.functions.SetSimJoin.containmentSelfJoin]]: directed pairs
    * with |A∩B|/|A| ≥ 49/50, the dedup signal symmetric Jaccard (q107)
    * misses when a short document is swallowed by a long one. The
    * oracle re-derives it as the full quadratic directed join. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("words"))
    graft.functions.SetSimJoin.containmentSelfJoin(docs, "doc_id", "words", 49L, 50L)
      .orderBy("contained_id", "container_id")
  }

  private val o119 =
    """WITH d AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
      |           FROM documents),
      |p AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |        CAST(len(list_intersect(a.w, b.w)) AS INT) AS n_common,
      |        CAST(len(a.w) AS INT) AS a_len
      |      FROM d a JOIN d b ON a.doc_id <> b.doc_id)
      |SELECT contained_id, container_id, n_common, a_len
      |FROM p WHERE n_common * 50 >= a_len * 49 ORDER BY 1, 2""".stripMargin

  /** Fixed-radius neighbor join (the distance-predicate spatial join the
    * flagship's polygon⋈tile join generalizes — reference query semantics
    * per `green_spaces/analyse_polygons.py`'s tile-straddle neighbor
    * lookups): all points within r of each query point, via grid-cell
    * bucketing at cell size = r. The PROBE side (queries, the small
    * side) explodes its 3×3 neighbor cells; the data side is keyed by
    * its own single cell — so the data-sized table never fans out, the
    * join is a plain equi-join on (cx, cy), and the exact d² <= r²
    * filter runs post-join. No all-pairs anywhere: the pair count is
    * bounded by points-per-cell × 9 per query. Same device as the q42
    * window-bucketed range join, lifted to 2D. d² is reported
    * fixed-point (floor 1e9·d²) — products/sums of identical doubles
    * are IEEE-identical in any engine. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val r = 0.5
    val pts = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pid"),
      ((col("l_orderkey") % 50) + (col("l_suppkey") % 89).cast("double") / 89.0).as("px"),
      ((col("l_partkey") % 50) + (col("l_orderkey") % 97).cast("double") / 97.0).as("py"))
    val data = pts.select(col("pid"), col("px"), col("py"),
      floor(col("px") / r).cast("long").as("cx"),
      floor(col("py") / r).cast("long").as("cy"))
    val queries = pts.where(col("pid") % 599 === 0)
      .select(col("pid").as("qid"), col("px").as("qx"), col("py").as("qy"),
        floor(col("px") / r).cast("long").as("qcx"),
        floor(col("py") / r).cast("long").as("qcy"))
      .withColumn("cx", explode(array((-1 to 1).map(d => col("qcx") + d): _*)))
      .withColumn("cy", explode(array((-1 to 1).map(d => col("qcy") + d): _*)))
    val d2 = (col("px") - col("qx")) * (col("px") - col("qx")) +
      (col("py") - col("qy")) * (col("py") - col("qy"))
    queries.join(data, Seq("cx", "cy"))
      .where(col("pid") =!= col("qid") && d2 <= lit(r * r))
      .select(col("qid"), col("pid"), floor(d2 * lit(1e9)).cast("long").as("d2_e9"))
      .orderBy("qid", "pid")
  }

  private val o120 =
    """WITH pts AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS pid,
      |         (l_orderkey % 50) + CAST(l_suppkey % 89 AS DOUBLE) / 89.0 AS px,
      |         (l_partkey % 50) + CAST(l_orderkey % 97 AS DOUBLE) / 97.0 AS py
      |  FROM lineitem)
      |SELECT q.pid AS qid, p.pid AS pid,
      |       CAST(floor(((p.px - q.px) * (p.px - q.px) +
      |                   (p.py - q.py) * (p.py - q.py)) * 1e9) AS BIGINT) AS d2_e9
      |FROM pts q JOIN pts p ON q.pid <> p.pid
      |WHERE q.pid % 599 = 0
      |  AND (p.px - q.px) * (p.px - q.px) + (p.py - q.py) * (p.py - q.py) <= 0.25
      |ORDER BY 1, 2""".stripMargin

  /** Collocation mining: adjacent-token bigrams scored by LIFT
    * (observed/expected co-occurrence, the exact-arithmetic PMI
    * analogue: lift = n_ab·N_uni² / (N_bi·n_a·n_b); PMI = log2(lift),
    * monotone, so the ranking is identical without ever calling a
    * transcendental). Counts are exact integers from two groupBys —
    * bigram keys are dictionary²-bounded, never corpus-bounded — and
    * the two corpus totals ride in as broadcast single-row frames. The
    * final score multiplies/divides the SAME operand order in both
    * engines, so the fixed-point floor(ppm) agrees bit-for-bit (the
    * q111 IEEE device). Position indexes are assigned BEFORE the
    * empty-token filter on both sides, so a dropped empty token breaks
    * adjacency rather than splicing its neighbors together. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
    val toks = docs
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "tok")))
      .where(length(col("tok")) > 0)
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    val nUni = toks.agg(count(lit(1)).as("n_uni"))
    // Adjacent pairs are LOCAL to each document's in-row token array, so
    // the bigram generator is a map-only zip of the array with its own
    // 1-shifted self — zero Exchange before the dictionary²-bounded
    // groupBy, where the old (doc_id, pos) corpus self-join shuffled the
    // exploded corpus twice. Pairs are formed over ORIGINAL positions
    // first and pairs containing an empty token dropped after, so a
    // dropped empty token still breaks adjacency rather than splicing
    // its neighbors together (the semantics the oracle pins). Eager
    // localCheckpoint: bi feeds BOTH the corpus total and the filtered
    // score frame — the checkpointed frame itself is
    // dictionary²-bounded, never corpus-sized.
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val bi = docs
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), n1).as("ta"),
        slice(col("ws"), lit(2), n1).as("tb"))).as("p"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
      .where(length(col("ta")) > 0 && length(col("tb")) > 0)
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true)
    val nBi = bi.agg(sum("n_ab").as("n_bi"))
    bi.where(col("n_ab") >= 5)
      .join(uni.select(col("tok").as("ta"), col("n").as("n_a")), "ta")
      .join(uni.select(col("tok").as("tb"), col("n").as("n_b")), "tb")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("lift_ppm",
        floor(col("n_ab").cast("double") * col("n_uni") * col("n_uni") * lit(1000000.0) /
          (col("n_bi").cast("double") * col("n_a") * col("n_b"))).cast("long"))
      .select("ta", "tb", "n_ab", "n_a", "n_b", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("ta"), col("tb"))
      .limit(50)
  }

  private val o121 =
    """WITH t0 AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
      |         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |  FROM documents),
      |toks AS (SELECT * FROM t0 WHERE length(tok) > 0),
      |uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
      |nu AS (SELECT count(*) AS n_uni FROM toks),
      |bi AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS n_ab
      |       FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |       GROUP BY 1, 2),
      |nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM bi)
      |SELECT ta, tb, n_ab, ua.n AS n_a, ub.n AS n_b,
      |       CAST(floor(CAST(n_ab AS DOUBLE) * n_uni * n_uni * 1000000.0 /
      |            (CAST(n_bi AS DOUBLE) * ua.n * ub.n)) AS BIGINT) AS lift_ppm
      |FROM bi JOIN uni ua ON bi.ta = ua.tok
      |        JOIN uni ub ON bi.tb = ub.tok, nu, nb
      |WHERE n_ab >= 5
      |ORDER BY lift_ppm DESC, ta, tb LIMIT 50""".stripMargin

  /** Sorted-neighborhood blocking (Hernández–Stolfo merge/purge): rank
    * every record by its blocking key via [[graft.functions.GlobalRank]]
    * (two-pass distributed row_number — NO SinglePartition window), then
    * join each record to the w records after it by bucketing the rank
    * (probe side explodes 2 buckets, the q42 range-join device on rank
    * space) and keep candidate pairs within Levenshtein 3. The
    * all-pairs O(N²) edit-distance matrix never materializes: exactly
    * N·w candidates are scored, and rank-bucketing keeps the join an
    * equi-join that scales with N. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val w = 4L
    // eager localCheckpoint: the ranked frame feeds BOTH join sides —
    // without it the two-pass rank (and its O(P) offset collect) would
    // execute twice, once per branch (the q103 lesson)
    val recs = graft.functions.GlobalRank.byStringKey(
      t(s, dir, "part").select(col("p_partkey"), col("p_name")),
      "p_name", "p_partkey", "rk").localCheckpoint(true)
    val lhs = recs.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
        col("rk").as("a_rk"))
      .withColumn("bk", explode(array(floor(col("a_rk") / w), floor(col("a_rk") / w) + 1)))
    val rhs = recs.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
      col("rk").as("b_rk"), floor(col("rk") / w).as("bk"))
    lhs.join(rhs, "bk")
      .where(col("b_rk") > col("a_rk") && col("b_rk") <= col("a_rk") + w)
      .withColumn("lev", levenshtein(col("a_name"), col("b_name")))
      .where(col("lev") <= 3)
      .select(col("a_key"), col("b_key"), col("lev").cast("long").as("lev"))
      .orderBy("a_key", "b_key")
  }

  private val o122 =
    """WITH s AS (SELECT p_partkey, p_name,
      |             row_number() OVER (ORDER BY p_name, p_partkey) AS rk
      |           FROM part)
      |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
      |FROM s a JOIN s b ON b.rk > a.rk AND b.rk <= a.rk + 4
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY 1, 2""".stripMargin

  /** ANN quality evaluation — recall@10 of the IVF index (q28) against
    * the exact brute-force top-10 (q16), per query: THE metric an ANN
    * deployment is judged by. Pure composition of two already-verified
    * frames — exact and approximate top-k join on (query_id,
    * neighbor_id), count hits, left join back so 0-recall queries
    * surface instead of vanishing. The oracle re-derives the exact side
    * by brute-force SQL and the approximate side by reranking the
    * engine's own IVF candidate sidecar (the o28 device), so a recall
    * regression in EITHER index path fails the compare. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val exact = q16(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = q28(s, dir).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    t(s, dir, "embeddings").where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .orderBy("query_id")
  }

  private lazy val o123 =
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       |                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) DESC,
       |             e.vec_id) AS rank
       |    FROM embeddings q, embeddings e
       |    WHERE q.vec_id % 100 = 0 AND q.vec_id <> e.vec_id)
       |  WHERE rank <= 10),
       |cand AS (SELECT query_id, neighbor_id
       |         FROM read_parquet('${Sidecars.annIvfPath}/*.parquet')),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |           row_number() OVER (PARTITION BY c.query_id
       |             ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       |                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) DESC,
       |             c.neighbor_id) AS rank
       |    FROM cand c
       |    JOIN embeddings q ON q.vec_id = c.query_id
       |    JOIN embeddings e ON e.vec_id = c.neighbor_id)
       |  WHERE rank <= 10),
       |hits AS (SELECT exact.query_id, count(*) AS n_hit
       |         FROM exact JOIN approx USING (query_id, neighbor_id)
       |         GROUP BY 1)
       |SELECT q.vec_id AS query_id, COALESCE(h.n_hit, 0) AS n_hit
       |FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
       |WHERE q.vec_id % 100 = 0 ORDER BY 1""".stripMargin

  /** Incremental ingest dedup — the daily operation of a training-data
    * pipeline: admit a NEW batch against the committed corpus snapshot
    * without ever shuffling the corpus by more than a constant factor.
    * Exact layer: md5 content-key equi-join (the batch side is the
    * small build side, so the history scan streams). Near layer: SimHash
    * banding via [[graft.functions.NearDup.bandedJoin]] (16-bit bands,
    * hamming ≤ 3 < 4 bands — recall pigeonhole-EXACT, so the oracle can
    * pin it with plain SQL). Verdict precedence exact > near > new;
    * match_id = the smallest matching history doc (−1 for new). History
    * reads the [[Sidecars]] SnapshotTable (2 appends, unioned manifest)
    * while the oracle recomputes history from the SOURCE documents
    * table — a stale snapshot fails the compare loudly (the q106
    * inverted-staleness contract). Injected exact duplicates (every
    * doc_id % 100 == 1 history doc re-keyed past max(doc_id), q29's
    * disjoint-range device, mirrored in o124's mx CTE) guarantee all
    * three verdicts exist at every scale factor. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val hist = graft.sources.SnapshotTable.scan(s, Sidecars.snapshotDocsPath)
      .select(col("doc_id"), col("text"))
    val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val mxRow = src.agg(max("doc_id")).head()
    val off = (if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)) + 1L
    val batch = src.where(col("doc_id") % 10 === 0)
      .unionAll(src.where(col("doc_id") % 100 === 1)
        .select((col("doc_id") + off).as("doc_id"), col("text")))
    def sh(df: DataFrame) = df.select(col("doc_id"),
      ec(SimHash64(ee(split(lower(col("text")), "\\s+")))).as("simhash"))
    val exact = batch.select(col("doc_id"), md5(col("text")).as("k"))
      .join(hist.select(md5(col("text")).as("k"), col("doc_id").as("h_id")), "k")
      .groupBy("doc_id").agg(min("h_id").as("exact_of"))
    val near = graft.functions.NearDup.bandedJoin(
        sh(batch), "doc_id", "simhash", sh(hist), "doc_id", "simhash",
        bandBits = 16, maxHamming = 3)
      .groupBy(col("probe_id").as("doc_id"))
      .agg(min("base_id").as("near_of"))
    batch.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_of"), col("near_of"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  private val o124 =
    """WITH src AS (SELECT doc_id, text FROM documents),
      |mx AS (SELECT max(doc_id) + 1 AS off FROM src),
      |batch AS (SELECT doc_id, text FROM src WHERE doc_id % 10 = 0
      |          UNION ALL
      |          SELECT doc_id + mx.off, text FROM src, mx WHERE doc_id % 100 = 1),
      |hist AS (SELECT doc_id, text FROM src WHERE doc_id % 10 <> 0),
      |ex AS (SELECT b.doc_id, min(h.doc_id) AS m
      |       FROM batch b JOIN hist h ON md5(b.text) = md5(h.text) GROUP BY 1),
      |alld AS (SELECT doc_id, text, 1 AS isb FROM batch
      |         UNION ALL SELECT doc_id, text, 0 FROM hist),
      |toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM alld),
      |th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
      |votes AS (
      |  SELECT doc_id, bits.b AS b,
      |         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(64)) AS b) bits
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END) AS UBIGINT) AS u
      |  FROM votes GROUP BY 1),
      |bands AS (
      |  SELECT s.doc_id, a.isb, s.u, bd.band AS band, (s.u >> (bd.band * 16)) & 65535 AS bucket
      |  FROM sh s JOIN alld a USING (doc_id), (SELECT unnest(range(4)) AS band) bd),
      |np AS (SELECT p.doc_id, min(h.doc_id) AS m
      |       FROM bands p JOIN bands h ON p.band = h.band AND p.bucket = h.bucket
      |       WHERE p.isb = 1 AND h.isb = 0 AND bit_count(xor(p.u, h.u)) <= 3
      |       GROUP BY 1)
      |SELECT b.doc_id,
      |       CASE WHEN ex.m IS NOT NULL THEN 'exact'
      |            WHEN np.m IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
      |       CAST(COALESCE(ex.m, np.m, -1) AS BIGINT) AS match_id
      |FROM batch b LEFT JOIN ex ON ex.doc_id = b.doc_id
      |             LEFT JOIN np ON np.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** Image near-dup cluster CANONICALIZATION — the keep-one-per-cluster
    * step that turns q26's pairs into a curated image corpus: banded
    * phash pairs (hamming ≤ 7, pigeonhole-exact) close into components
    * ([[graft.functions.ConnectedComponents]]) and each cluster keeps
    * its best member by quality (originals before perturbed copies,
    * then sharper, then smaller id). Node ids come from
    * [[graft.functions.GlobalRank.byStringKey]] — a dense 1-based rank
    * over the image_id order, so the component's min label maps back to
    * the lexicographically smallest image_id and the DuckDB oracle can
    * re-derive the SAME ids with a plain row_number. Every shuffle is
    * keyed (band bucket / node id / cluster label); the canonical pick
    * is a label-PARTITIONED window, never SinglePartition. The input
    * unions a 1-bit-perturbed copy of each tile (q26's device) so real
    * clusters exist at every scale factor. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base0 = phashBase(s, dir)
    val dups = base0.select(concat(col("image_id"), lit("~d")).as("image_id"),
      col("phash").bitwiseXOR(lit(1L << 21)).as("phash"))
    val all0 = base0.unionAll(dups)
    val ranked = graft.functions.GlobalRank
      .byStringKey(all0, "image_id", "phash", "rid")
      .select("image_id", "rid")
    val pairs = graft.functions.NearDup
      .bandedSelfJoin(all0, "image_id", "phash", bandBits = 8, maxHamming = 7)
    val edges = pairs
      .join(ranked.select(col("image_id").as("a_id"), col("rid").as("src")), "a_id")
      .join(ranked.select(col("image_id").as("b_id"), col("rid").as("dst")), "b_id")
      .select("src", "dst")
    val comps = graft.functions.ConnectedComponents
      .run(ranked.select(col("rid").as("id")), edges)
    val withId = comps.join(ranked.select(col("rid").as("id"), col("image_id")), "id")
    val labId = ranked.select(col("rid").as("label"), col("image_id").as("cluster_id"))
    val sizes = withId.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val stats = imageStatsBase(s, dir)
      .select(col("image_id").as("base_id"), col("sharpness"))
    val w = Window.partitionBy("label")
      .orderBy(col("is_dup").asc, col("sharpness").desc, col("image_id").asc)
    withId
      .withColumn("is_dup", col("image_id").endsWith("~d").cast("int"))
      .withColumn("base_id", regexp_replace(col("image_id"), "~d$", ""))
      .join(stats, "base_id")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "label").join(labId, "label")
      .select(col("image_id"), col("cluster_id"), col("cluster_size"),
        (col("rk") === 1).cast("int").as("keep"))
      .orderBy("image_id")
  }

  /** o125: the full derivation in SQL over the phash + image-stats
    * sidecars — o26's banding/hamming, the o47 recursive min-label
    * closure over row_number node ids, and the quality-ranked canonical
    * pick. Two independent stacks must agree on every keep bit. */
  private lazy val o125 = {
    val p = Sidecars.phashPath
    val q = Sidecars.imageStatsPath
    s"""WITH RECURSIVE base AS (SELECT image_id, phash FROM read_parquet('$p/*.parquet')),
       |all_t AS (
       |  SELECT image_id, phash FROM base
       |  UNION ALL SELECT image_id || '~d', xor(phash, 2097152) FROM base),
       |r AS (SELECT image_id, row_number() OVER (ORDER BY image_id) AS rid FROM all_t),
       |u AS (
       |  SELECT image_id, phash,
       |         CAST(phash AS HUGEINT) + CASE WHEN phash < 0
       |           THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS up
       |  FROM all_t),
       |bands AS (
       |  SELECT image_id, phash, bd.band AS band,
       |         (up // (1::HUGEINT << (bd.band * 8))) % 256 AS bucket
       |  FROM u, (SELECT unnest(range(8)) AS band) bd),
       |pairs AS (
       |  SELECT DISTINCT a.image_id AS a_id, a.phash AS ah,
       |                  b.image_id AS b_id, b.phash AS bh
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.image_id < b.image_id),
       |p2 AS (SELECT a_id, b_id FROM pairs WHERE bit_count(xor(ah, bh)) <= 7),
       |er AS (SELECT ra.rid AS src, rb.rid AS dst
       |       FROM p2 JOIN r ra ON ra.image_id = a_id JOIN r rb ON rb.image_id = b_id),
       |edges AS (SELECT src, dst FROM er UNION ALL SELECT dst, src FROM er),
       |cc(id, lbl) AS (
       |  SELECT rid, rid FROM r
       |  UNION
       |  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.id),
       |comp AS (SELECT id, min(lbl) AS label FROM cc GROUP BY 1),
       |named AS (SELECT r.image_id, c.label FROM comp c JOIN r ON r.rid = c.id),
       |lab AS (SELECT rid AS label, image_id AS cluster_id FROM r),
       |sz AS (SELECT label, count(*) AS cluster_size FROM named GROUP BY 1),
       |qual AS (
       |  SELECT n.image_id, n.label,
       |         CAST(n.image_id LIKE '%~d' AS INT) AS is_dup, s.sharpness
       |  FROM named n JOIN read_parquet('$q/*.parquet') s
       |    ON s.image_id = CASE WHEN n.image_id LIKE '%~d'
       |         THEN substr(n.image_id, 1, length(n.image_id) - 2)
       |         ELSE n.image_id END),
       |rk AS (SELECT image_id, label,
       |              row_number() OVER (PARTITION BY label
       |                ORDER BY is_dup, sharpness DESC, image_id) AS rk
       |       FROM qual)
       |SELECT rk.image_id, lab.cluster_id, sz.cluster_size,
       |       CAST(rk.rk = 1 AS INT) AS keep
       |FROM rk JOIN sz USING (label) JOIN lab USING (label)
       |ORDER BY 1""".stripMargin
  }

  /** Snapshot-table COMPACTION PLANNER — the small-files maintenance
    * operation of the Iceberg mechanics (q106): bin-pack the current
    * manifest's data files into ~4 equal-row compaction groups in
    * stat-key order, so each rewritten file stays range-clustered on
    * the skipping key and manifest pruning keeps working after the
    * rewrite. Pure MANIFEST-level planning — no data file is read; at
    * 10^12 images the manifest is the only thing that scales, and its
    * cumulative-rows scan runs through [[graft.functions.PrefixSum]]
    * (range-bucketed two-pass, no SinglePartition window) so even a
    * multi-million-entry manifest plans distributed. Deterministic
    * next-fit: bin = floor(rows_before / target), target =
    * max(1, ceil(total/4)) — a pure function of the manifest, which is
    * what lets DuckDB re-derive the identical plan. */
  private def q126(s: SparkSession, dir: String): DataFrame =
    compactionPlan(s, Sidecars.snapshotEventsPath, "event_id")

  /** The q126 planner over any snapshot-table root (separated so specs
    * can drive it against their own temp tables). */
  private[graft] def compactionPlan(s: SparkSession, root: String,
                                    statCol: String): DataFrame = {
    val man = graft.sources.SnapshotTable
      .manifest(s, root)
      .select(col("file"), col("rows").cast("long").as("rows"),
        col(s"min_$statCol").cast("long").as("min_key"),
        col(s"max_$statCol").cast("long").as("max_key"))
    val total = man.agg(sum("rows")).head().getLong(0)
    val target = math.max(1L, (total + 3L) / 4L)
    val binned = graft.functions.PrefixSum
      .runningTotal(man, "min_key", "rows", "cum")
      .withColumn("bin", expr(s"(cum - rows) div ${target}L"))
    val stats = binned.groupBy("bin").agg(
      count(lit(1)).as("bin_files"), sum("rows").as("bin_rows"),
      min("min_key").as("bin_min_key"), max("max_key").as("bin_max_key"))
    binned.join(stats, "bin")
      .select(col("file"), col("rows"), col("bin"), col("bin_files"),
        col("bin_rows"), col("bin_min_key"), col("bin_max_key"))
      .orderBy("file")
  }

  /** o126: the identical plan re-derived over the SAME committed
    * manifest (v3 — Verify's setup always rebuilds the snapshot table
    * as exactly three appends; a stale table resolves a later version
    * engine-side and mismatches loudly, the q106 staleness contract). */
  private lazy val o126 = {
    val m = s"${Sidecars.snapshotEventsPath}/manifests/v3.parquet/*.parquet"
    s"""WITH m AS (
       |  SELECT file, CAST(rows AS BIGINT) AS rows,
       |         CAST(min_event_id AS BIGINT) AS min_key,
       |         CAST(max_event_id AS BIGINT) AS max_key
       |  FROM read_parquet('$m')),
       |t AS (SELECT greatest(CAST((sum(rows) + 3) // 4 AS BIGINT), 1) AS target FROM m),
       |c AS (SELECT m.*, CAST(sum(rows) OVER (ORDER BY min_key) AS BIGINT) AS cum FROM m),
       |b AS (SELECT c.*, CAST((cum - rows) // target AS BIGINT) AS bin FROM c, t),
       |s AS (SELECT bin, count(*) AS bin_files, CAST(sum(rows) AS BIGINT) AS bin_rows,
       |             min(min_key) AS bin_min_key, max(max_key) AS bin_max_key
       |      FROM b GROUP BY 1)
       |SELECT b.file, b.rows, b.bin, s.bin_files, s.bin_rows,
       |       s.bin_min_key, s.bin_max_key
       |FROM b JOIN s USING (bin) ORDER BY 1""".stripMargin
  }

  /** Tokenizer-induction pair statistics — the first BPE merge-candidate
    * scan (Sennrich et al. 2016, public): corpus-weighted counts of
    * adjacent symbol pairs, computed over the word-TYPE dictionary with
    * each type carrying its corpus frequency — the classic two-level
    * shape that makes BPE induction tractable at 100 TB: the corpus is
    * touched ONCE (the word groupBy), every later pass is bounded by
    * |dictionary| × word length, and the pair re-aggregation collapses
    * to ≤ alphabet² keys with map-side combine. Overlapping repeats
    * count per position ("aaa" → two (a,a)), matching the reference
    * algorithm. Output: top-20 merge candidates by weighted count,
    * ties to the smaller (a, b) — via distributed
    * TakeOrderedAndProject, never a global window. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
    words.where(length(col("w")) >= 2)
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substr(w, i, 1)").as("a"),
        expr("substr(w, i + 1, 1)").as("b"), col("f"))
      .groupBy("a", "b").agg(sum("f").as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("a"), col("b"))
      .limit(20)
  }

  private val o127 =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |w AS (SELECT w, count(*) AS f FROM toks WHERE length(w) > 0 GROUP BY 1),
      |p AS (
      |  SELECT substr(w, CAST(i AS INT), 1) AS a,
      |         substr(w, CAST(i AS INT) + 1, 1) AS b, f
      |  FROM w, LATERAL (SELECT unnest(range(1, length(w))) AS i) r
      |  WHERE length(w) >= 2),
      |g AS (SELECT a, b, CAST(sum(f) AS BIGINT) AS n_pairs FROM p GROUP BY 1, 2)
      |SELECT a, b, n_pairs FROM g
      |ORDER BY n_pairs DESC, a, b LIMIT 20""".stripMargin

  /** The query registry: `SparkEntry.queries`, `SparkEntry.oracleSql`
    * and Bench's headline leaves all derive from it. */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_summary_agg", q01, o01, headline = true),
    QuerySpec("q02_groupby_multi", q02, o02, headline = true),
    QuerySpec("q03_limit_firstn", q03, o03, headline = false),
    QuerySpec("q04_md5_filter", q04, o04, headline = false),
    QuerySpec("q05_uprn_explode", q05, o05, headline = false),
    QuerySpec("q06_spatial_sort", q06, o06, headline = true),
    QuerySpec("q07_tilecode", q07, o07, headline = false),
    QuerySpec("q08_recombine_union", q08, o08, headline = false),
    QuerySpec("q09_coverage_minmax", q09, o09, headline = false),
    QuerySpec("q10_window_topk", q10, o10, headline = false),
    QuerySpec("q11_dedup_exact", q11, o11, headline = true),
    QuerySpec("q12_token_count", q12, o12, headline = false),
    QuerySpec("q13_quality_score", q13, o13, headline = false),
    QuerySpec("q14_langid", q14, o14, headline = true),
    QuerySpec("q15_bpe_tokens", q15, o15, headline = false),
    QuerySpec("q16_embedding_topk", q16, o16, headline = true),
    QuerySpec("q17_ngram_jaccard", q17, o17, headline = true),
    QuerySpec("q18_stream_window", q18, o18, headline = false),
    QuerySpec("q19_flights_datefloat", q19, o19, headline = false),
    QuerySpec("q20_knn_points", q20, o20, headline = false),
    QuerySpec("q21_dim_join", q21, o21, headline = false),
    QuerySpec("q22_semi_anti", q22, o22, headline = false),
    QuerySpec("q23_fingerprint", q23, o23, headline = false),
    QuerySpec("q24_simhash_dedup", q24, o24, headline = false),
    QuerySpec("q25_minhash_lsh", q25, o25, headline = false),
    QuerySpec("q26_phash_neardup", q26, o26, headline = false),
    QuerySpec("q27_ann_lsh", q27, o27, headline = false),
    QuerySpec("q28_ann_ivf", q28, o28, headline = false),
    QuerySpec("q29_embedding_neardup", q29, o29, headline = false),
    QuerySpec("q30_veg_flagship", q30, o30, headline = false),
    QuerySpec("q31_phash_dedup", q31, o31, headline = false),
    QuerySpec("q32_veg_summary", q32, o32, headline = false),
    QuerySpec("q33_toid2uprn", q33, o33, headline = false),
    QuerySpec("q34_veg_irgb", q34, o34, headline = false),
    QuerySpec("q35_veg_nn", q35, o35, headline = false),
    QuerySpec("q36_media_frames", q36, o36, headline = false),
    QuerySpec("q37_audio_features", q37, o37, headline = false),
    QuerySpec("q38_seeded_sample", q38, o38, headline = false),
    QuerySpec("q39_veg_hex", q39, o39, headline = false),
    QuerySpec("q40_sessionize", q40, o40, headline = false),
    QuerySpec("q41_asof_join", q41, o41, headline = true),
    QuerySpec("q42_range_join", q42, o42, headline = true),
    QuerySpec("q43_repetition", q43, o43, headline = true),
    QuerySpec("q44_keywords", q44, o44, headline = true),
    QuerySpec("q45_decontaminate", q45, o45, headline = true),
    QuerySpec("q46_hash_split", q46, o46, headline = true),
    QuerySpec("q47_dedup_clusters", q47, o47, headline = true),
    QuerySpec("q48_redact_pii", q48, o48, headline = true),
    QuerySpec("q49_stratified_sample", q49, o49, headline = true),
    QuerySpec("q50_pack_sequences", q50, o50, headline = true),
    QuerySpec("q51_vocab_oov", q51, o51, headline = true),
    QuerySpec("q52_zorder", q52, o52, headline = true),
    QuerySpec("q53_decontaminate_bloom", q53, o53, headline = true),
    QuerySpec("q54_mixture_upsample", q54, o54, headline = true),
    QuerySpec("q55_image_quality", q55, o55, headline = true),
    QuerySpec("q56_stream_dedup", q56, o56, headline = false),
    QuerySpec("q57_chunk_overlap", q57, o57, headline = true),
    QuerySpec("q58_shuffle_order", q58, o58, headline = true),
    QuerySpec("q59_stream_join", q59, o59, headline = false),
    QuerySpec("q60_dup_spans", q60, o60, headline = true),
    QuerySpec("q61_heavy_hitters", q61, o61, headline = true),
    QuerySpec("q62_gapfill_resample", q62, o62, headline = true),
    QuerySpec("q63_exact_quantiles", q63, o63, headline = true),
    QuerySpec("q64_lm_score", q64, o64, headline = true),
    QuerySpec("q65_quantize_int8", q65, o65, headline = true),
    QuerySpec("q66_kmeans_assign", q66, o66, headline = true),
    QuerySpec("q67_augment_image", q67, o67, headline = true),
    QuerySpec("q68_source_profile", q68, o68, headline = true),
    QuerySpec("q69_source_overlap", q69, o69, headline = true),
    QuerySpec("q70_tile_pyramid", q70, o70, headline = true),
    QuerySpec("q71_snapshot_diff", q71, o71, headline = true),
    QuerySpec("q72_sliding_window", q72, o72, headline = true),
    QuerySpec("q73_stream_enrich", q73, o73, headline = false),
    QuerySpec("q74_cube_rollup", q74, o74, headline = true),
    QuerySpec("q75_lang_pivot", q75, o75, headline = true),
    QuerySpec("q76_curriculum_ntile", q76, o76, headline = true),
    QuerySpec("q77_funnel", q77, o77, headline = true),
    QuerySpec("q78_retention_cohort", q78, o78, headline = true),
    QuerySpec("q79_label_centroid", q79, o79, headline = true),
    QuerySpec("q80_event_transitions", q80, o80, headline = true),
    QuerySpec("q81_hll_distinct", q81, o81, headline = true),
    QuerySpec("q82_rrf_fusion", q82, o82, headline = true),
    QuerySpec("q83_activity_bitmap", q83, o83, headline = true),
    QuerySpec("q84_channel_norm", q84, o84, headline = false),
    QuerySpec("q85_star_rollup", q85, o85, headline = true),
    QuerySpec("q86_trend_slope", q86, o86, headline = true),
    QuerySpec("q87_agg_merge", q87, o87, headline = true),
    QuerySpec("q88_cdc_compact", q88, o88, headline = true),
    QuerySpec("q89_source_gini", q89, o89, headline = true),
    QuerySpec("q90_budget_apportion", q90, o90, headline = true),
    QuerySpec("q91_mad_outliers", q91, o91, headline = true),
    QuerySpec("q92_scd2_intervals", q92, o92, headline = true),
    QuerySpec("q93_countmin_sketch", q93, o93, headline = true),
    QuerySpec("q94_inverted_index", q94, o94, headline = true),
    QuerySpec("q95_bm25_topk", q95, o95, headline = true),
    QuerySpec("q96_sessionize", q96, o96, headline = true),
    QuerySpec("q97_rank_auc", q97, o97, headline = true),
    QuerySpec("q98_cohen_kappa", q98, o98, headline = true),
    QuerySpec("q99_pagerank", q99, o99, headline = true),
    QuerySpec("q100_calibration", q100, o100, headline = true),
    QuerySpec("q101_ivfpq_adc", q101, o101, headline = true),
    QuerySpec("q102_semdedup", q102, o102, headline = true),
    QuerySpec("q103_triangle_census", q103, o103, headline = true),
    QuerySpec("q104_feature_gram", q104, o104, headline = true),
    QuerySpec("q105_pps_sample", q105, o105, headline = true),
    // reads fixtures/sidecars Verify's setup builds, which need not exist at bench time
    QuerySpec("q106_snapshot_scan", q106, o106, headline = false),
    QuerySpec("q107_ppjoin", q107, o107, headline = true),
    QuerySpec("q108_mosaic_ccl", q108, o108, headline = true),
    QuerySpec("q109_hll_stream", q109, o109, headline = false),
    QuerySpec("q110_pca_power", q110, o110, headline = true),
    QuerySpec("q111_negative_sample", q111, o111, headline = true),
    // reads fixtures/sidecars Verify's setup builds, which need not exist at bench time
    QuerySpec("q112_unicode_dedup", q112, o112, headline = false),
    // reads fixtures/sidecars Verify's setup builds, which need not exist at bench time
    QuerySpec("q113_caption_audit", q113, o113, headline = false),
    QuerySpec("q114_unicode_pretokenize", q114, o114, headline = false),
    QuerySpec("q115_unicode_fingerprint", q115, o115, headline = false),
    QuerySpec("q116_unicode_simhash", q116, o116, headline = false),
    QuerySpec("q117_span_coalesce", q117, o117, headline = true),
    QuerySpec("q118_weighted_reservoir", q118, o118, headline = true),
    QuerySpec("q119_containment_join", q119, o119, headline = true),
    QuerySpec("q120_radius_join", q120, o120, headline = true),
    QuerySpec("q121_collocation_lift", q121, o121, headline = true),
    QuerySpec("q122_sorted_neighborhood", q122, o122, headline = true),
    QuerySpec("q123_ann_recall", q123, o123, headline = false),
    QuerySpec("q124_ingest_dedup", q124, o124, headline = false),
    QuerySpec("q125_image_canonical", q125, o125, headline = true),
    // reads fixtures/sidecars Verify's setup builds, which need not exist at bench time
    QuerySpec("q126_compaction_plan", q126, o126, headline = false),
    QuerySpec("q127_bpe_pair_stats", q127, o127, headline = true)
  )
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.types._
import graft.types.MetadataValue.RawString
import graft.types.PredicateCondition._

/**
 * The driver-facing query registry: every implemented operator from
 * SURVEY.md §2 gets an entry here, exercised end-to-end through the real
 * engine against the testdata tables, plus an equivalent DuckDB oracle SQL
 * where the semantics are SQL-expressible (approximate ops are rows-only).
 *
 * Float-compare discipline: similarity scores are computed in double with a
 * sequential left fold on BOTH sides (Spark `aggregate`/`zip_with` vs DuckDB
 * `list_reduce`/`list_transform`), passed through float32 (the reference's
 * Similarity is f32), then rounded at 4 decimals — bitwise-reproducible.
 * Money aggregates go through DECIMAL(18,2) (exact) and only cast to double
 * at the end, so partial-aggregation order cannot change the result.
 */
object Queries {

  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  /** Per-invocation store-name nonce for vdb_trace: the span recorder is
    * JVM-global, so each replay must trace a store no earlier replay used. */
  private val traceNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  // ----------------------------------------------------------- SQL helpers

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)), (acc,y) -> acc+y)"
  private def normSql(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,y) -> acc+y))"
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"
  private def sqEuclidSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))*(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))), (acc,y) -> acc+y)"
  private def euclidSql(a: String, b: String): String = s"sqrt(${sqEuclidSql(a, b)})"
  /** round(double(float(e)), 4) — mirrors TestStores.simResult. */
  private def r4(e: String): String = s"round(CAST(CAST($e AS FLOAT) AS DOUBLE), 4)"

  // --------------------------------------------------- BPE oracle helpers

  /** Deterministic BPE training corpus for the pipeline_bpe* queries: the
    * documents template vocabulary (so the learned merges actually fire on
    * the documents table) plus digits, punctuation, and an overlapping-run
    * case ("aaa aaaa" pins the one-greedy-pass-per-merge semantics), with
    * Zipf-ish repetition so pair counts are well separated. Inline and
    * sfDir-independent by construction — the merges are a pure function of
    * THIS list, which is what lets the DuckDB side carry them as VALUES
    * literals. */
  private[graft] val BpeDemoCorpus: Seq[String] = {
    val base = Seq(
      "the fast scan reads the table",
      "the slow scan reads the big table",
      "a hash join beats a sort merge join on small data",
      "the query plans a window over the stream",
      "spark shuffles the data to group the rows",
      "filter the rows then group the values",
      "the customer orders 2048 parts",
      "batch 1024 rows per partition",
      "key value pairs hash to buckets",
      "the vector column stores 512 floats",
      "dedup the lines, keep the first value!",
      "sort the keys; merge the runs",
      "aaa aaaa aa aaa aaaa",
      "the the the a a a")
    base ++ base.take(7) ++ base.take(3)
  }

  private val BpeNumMerges = 32

  /** The driver-side reference's merges on the demo corpus — the oracle
    * literals. The pipeline_bpe_train hash-match is therefore a
    * DIFFERENTIAL gate: the DISTRIBUTED trainer (forced arm) against the
    * independent classic single-node algorithm. */
  private lazy val bpeDemoMerges: Seq[(String, String)] =
    graft.text.BpeReference.train(BpeDemoCorpus, BpeNumMerges)

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private lazy val bpeMergeValues: String = bpeDemoMerges.zipWithIndex
    .map { case ((l, r), i) => s"(${i + 1}, ${sqlStr(l)}, ${sqlStr(r)})" }
    .mkString(", ")

  /** DuckDB BPE encode as a recursive CTE: word-level symbol lists; each
    * step finds the lowest-rank applicable merge and replaces its leftmost
    * occurrence — exactly the pinned encode procedure of BpeEncodeImpl /
    * BpeReference.encodeWord. Recursion depth per word ≤ its length. */
  private def bpeEncodeCte(docFilter: String): String = {
    val bpePat = graft.text.TextOps.BpePattern
    raw"""pre AS (
      |  SELECT doc_id, i AS w_ix, regexp_extract_all(text, '$bpePat')[i] AS w
      |  FROM documents,
      |    UNNEST(range(1, len(regexp_extract_all(text, '$bpePat')) + 1)) AS r(i)
      |  WHERE $docFilter),
      |merges(rank, l, r) AS (VALUES $bpeMergeValues),
      |init AS (SELECT doc_id, w_ix, string_split(w, '') AS syms FROM pre),
      |enc AS (
      |  SELECT doc_id, w_ix, syms FROM init
      |  UNION ALL
      |  SELECT e.doc_id, e.w_ix,
      |    e.syms[1:best.p-1] || [best.l || best.r] || e.syms[best.p+2:] AS syms
      |  FROM enc e, LATERAL (
      |    SELECT m.l AS l, m.r AS r,
      |      list_filter(range(1, len(e.syms)), i -> e.syms[i]=m.l AND e.syms[i+1]=m.r)[1] AS p
      |    FROM merges m
      |    WHERE len(list_filter(range(1, len(e.syms)), i -> e.syms[i]=m.l AND e.syms[i+1]=m.r)) > 0
      |    ORDER BY m.rank LIMIT 1) AS best),
      |fin AS (
      |  SELECT doc_id, w_ix, syms FROM enc e
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM merges m
      |    WHERE len(list_filter(range(1, len(e.syms)), i -> e.syms[i]=m.l AND e.syms[i+1]=m.r)) > 0))""".stripMargin
  }

  private val withQ = "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)"

  /** Exact 3-gram Jaccard pairs ≥ 0.8 on documents — the shared oracle for
    * all three near-dup algorithms (each must produce the exact pair set;
    * their candidate generation differs, their verification is exact). */
  private val jaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |shingles AS (
      |  SELECT DISTINCT doc_id, g FROM toks,
      |  UNNEST(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM shingles GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM shingles a
      |  JOIN shingles b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT ia AS a, ib AS b, round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jac
      |FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
      |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8 ORDER BY a, b""".stripMargin

  /** Recursive-CTE connected components over the exact 3-gram Jaccard ≥0.8
    * pair graph of documents ∪ re-id'd copies of doc_id<50: `reach`
    * enumerates (node, reachable label); MIN(label) per node is the
    * component representative. `finalSelect` projects the result (labels or
    * the keep-one corpus filter). */
  private def clusterOracle(finalSelect: String): String =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM corpus),
       |shingles AS (
       |  SELECT DISTINCT doc_id, g FROM toks,
       |  UNNEST(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
       |sizes AS (SELECT doc_id, COUNT(*) n FROM shingles GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM shingles a
       |  JOIN shingles b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ia a, ib b FROM inter
       |  JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
       |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
       |edges AS (SELECT a u, b v FROM pairs UNION SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT u AS node, u AS label FROM edges
       |  UNION
       |  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
       |$finalSelect""".stripMargin

  private def simOracle(scoreExpr: String, desc: Boolean, n: Int = 10,
      where: String = ""): String = {
    val dir = if (desc) "DESC" else "ASC"
    s"""$withQ, scored AS (
       |  SELECT e.vec_id, $scoreExpr AS s
       |  FROM embeddings e, q $where
       |  ORDER BY s $dir, e.vec_id ASC LIMIT $n)
       |SELECT vec_id, ${r4("s")} AS sim FROM scored""".stripMargin
  }

  // ----------------------------------------------------------- the queries

  /** Cross-lingual perplexity oracle (train bigram LM on the English
    * subcorpus, add-1, score every doc) — shared by the batch entry
    * (text_perplexity_xlang) and the streaming replay (docs_ppl_stream),
    * which must gate the SAME scoring semantics by construction. */
  /** DuckDB twin of [[graft.text.TextOps.repetitionSignals]] — the 13
    * Gopher repetition signals, built programmatically (3 top-n-gram
    * blocks + 6 dup-n-gram coverage blocks are the same SQL shape).
    * Conventions mirror the kernel scaladoc: lines/paragraphs split on
    * the RAW text keeping empties, tokens = `\s+`-split of trim, char
    * counts are token codepoints (the `''`-joined slice), n-gram
    * identity is the space-join, top ties break (count, then charlen)
    * via the window ORDER BY, coverage marks positions via the
    * BETWEEN-join against duplicated starts. */
  private def repSuiteOracle(augSql: String): String = {
    val topBlocks = Seq(2, 3, 4).map { n =>
      s"""c$n AS (SELECT doc_id, ng, count(*) AS c, any_value(cl) AS cl FROM (
         |  SELECT doc_id, array_to_string(tk[st:st+${n - 1}], ' ') AS ng,
         |         len(array_to_string(tk[st:st+${n - 1}], '')) AS cl
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk)-$n+2)) AS st
         |        FROM toks WHERE len(tk) >= $n)) GROUP BY doc_id, ng),
         |t$n AS (SELECT doc_id, c*cl AS num FROM (
         |  SELECT doc_id, c, cl, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY c DESC, cl DESC) AS rn FROM c$n)
         |  WHERE rn = 1)""".stripMargin
    }
    val dupBlocks = Seq(5, 6, 7, 8, 9, 10).map { n =>
      s"""ds$n AS (SELECT doc_id, st FROM (
         |  SELECT doc_id, st, count(*) OVER (PARTITION BY doc_id, ng) AS c FROM (
         |    SELECT doc_id, st, array_to_string(tk[st:st+${n - 1}], ' ') AS ng
         |    FROM (SELECT doc_id, tk, unnest(range(1, len(tk)-$n+2)) AS st
         |          FROM toks WHERE len(tk) >= $n))) WHERE c > 1),
         |n$n AS (SELECT c.doc_id, sum(len(t.tk[c.p])) AS num FROM (
         |    SELECT DISTINCT p.doc_id, p.p FROM pos p JOIN ds$n d
         |      ON p.doc_id = d.doc_id AND p.p BETWEEN d.st AND d.st+${n - 1}) c
         |  JOIN toks t USING(doc_id) GROUP BY c.doc_id)""".stripMargin
    }
    def unitStats(alias: String, sep: String) =
      s"""${alias}u AS (SELECT doc_id, unnest(string_split(t, $sep)) AS un FROM aug),
         |$alias AS (SELECT a.doc_id, a.cnt, a.dist, a.totc, d.distc FROM
         |  (SELECT doc_id, count(*) AS cnt, count(DISTINCT un) AS dist,
         |     sum(len(un)) AS totc FROM ${alias}u GROUP BY doc_id) a
         |  JOIN (SELECT doc_id, sum(len(un)) AS distc FROM
         |     (SELECT DISTINCT doc_id, un FROM ${alias}u) GROUP BY doc_id) d
         |  USING(doc_id))""".stripMargin
    val topSel = Seq(2, 3, 4).map(n =>
      s"CASE WHEN ts.totc = 0 THEN 0.0 ELSE COALESCE(t$n.num, 0)::DOUBLE / ts.totc END AS top${n}gram_char_frac")
    val dupSel = Seq(5, 6, 7, 8, 9, 10).map(n =>
      s"CASE WHEN ts.totc = 0 THEN 0.0 ELSE COALESCE(n$n.num, 0)::DOUBLE / ts.totc END AS dup${n}gram_char_frac")
    val joins = (Seq(2, 3, 4).map(n => s"LEFT JOIN t$n USING(doc_id)") ++
      Seq(5, 6, 7, 8, 9, 10).map(n => s"LEFT JOIN n$n USING(doc_id)")).mkString(" ")
    s"""WITH aug AS ($augSql),
       |${unitStats("ls", "chr(10)")},
       |${unitStats("ps", "chr(10)||chr(10)")},
       |toks AS (SELECT doc_id, string_split_regex(trim(t), '\\s+') AS tk FROM aug),
       |ts AS (SELECT doc_id, list_sum(list_transform(tk, x -> len(x))) AS totc FROM toks),
       |pos AS (SELECT doc_id, unnest(range(1, len(tk)+1)) AS p FROM toks),
       |${topBlocks.mkString(",\n")},
       |${dupBlocks.mkString(",\n")}
       |SELECT aug.doc_id,
       |  (ls.cnt - ls.dist)::DOUBLE / ls.cnt AS dup_line_frac,
       |  CASE WHEN ls.totc = 0 THEN 0.0
       |    ELSE (ls.totc - ls.distc)::DOUBLE / ls.totc END AS dup_line_char_frac,
       |  (ps.cnt - ps.dist)::DOUBLE / ps.cnt AS dup_para_frac,
       |  CASE WHEN ps.totc = 0 THEN 0.0
       |    ELSE (ps.totc - ps.distc)::DOUBLE / ps.totc END AS dup_para_char_frac,
       |  ${(topSel ++ dupSel).mkString(",\n  ")}
       |FROM aug JOIN ls USING(doc_id) JOIN ps USING(doc_id) JOIN ts USING(doc_id)
       |$joins
       |ORDER BY doc_id""".stripMargin
  }

  private val xlangPplOracle: String =
    """WITH ttoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents WHERE lang = 'en'),
      |tbg AS (
      |  SELECT tk[i] AS w1, tk[i+1] AS w2
      |  FROM ttoks, UNNEST(range(1, len(tk))) AS r(i)
      |  WHERE len(tk) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS c2 FROM tbg GROUP BY w1, w2),
      |uc AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY w1),
      |v AS (SELECT count(DISTINCT tok) AS V
      |  FROM (SELECT unnest(tk) AS tok FROM ttoks)),
      |stoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |sbg AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |  FROM stoks, UNNEST(range(1, len(tk))) AS r(i)
      |  WHERE len(tk) >= 2),
      |nll AS (
      |  SELECT sbg.doc_id,
      |    -ln((coalesce(bc.c2, 0) + 1.0) / (coalesce(uc.c1, 0) + 1.0 * v.V)) AS nll
      |  FROM sbg LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1)
      |    CROSS JOIN v)
      |SELECT doc_id, round(exp(avg(nll)), 4) AS ppl
      |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The shared perplexity CTE chain (train on EN, score everything) up
    * to a `scored(doc_id, ppl)` relation — the base of both the
    * text_perplexity_xlang oracle and the CCNet bucket oracle. */
  private val pplScoredCtes: String =
    """WITH ttoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents WHERE lang = 'en'),
      |tbg AS (
      |  SELECT tk[i] AS w1, tk[i+1] AS w2
      |  FROM ttoks, UNNEST(range(1, len(tk))) AS r(i)
      |  WHERE len(tk) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS c2 FROM tbg GROUP BY w1, w2),
      |uc AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY w1),
      |v AS (SELECT count(DISTINCT tok) AS V
      |  FROM (SELECT unnest(tk) AS tok FROM ttoks)),
      |stoks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |sbg AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |  FROM stoks, UNNEST(range(1, len(tk))) AS r(i)
      |  WHERE len(tk) >= 2),
      |nll AS (
      |  SELECT sbg.doc_id,
      |    -ln((coalesce(bc.c2, 0) + 1.0) / (coalesce(uc.c1, 0) + 1.0 * v.V)) AS nll
      |  FROM sbg LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1)
      |    CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id, round(exp(avg(nll)), 4) AS ppl
      |  FROM nll GROUP BY doc_id)""".stripMargin

  val registry: Map[String, Q] = Map(

    // ---- relational headline (extension surface; lineitem agg) ----
    "q1_agg" -> Q(
      (s, dir) => {
        val li = TestStores.table(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q3-shaped 3-table join: the small filtered dimension (customer)
    // broadcasts into orders, the o↔l join shuffles on the order key, both
    // date filters reach the parquet scans. Exercises the join-planning
    // surface the vector ops don't.
    "q3_join" -> Q(
      (s, dir) => {
        val cust = TestStores.table(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = TestStores.table(s, dir, "orders")
          .where(col("o_orderdate") < lit("1998-06-30"))
        val li = TestStores.table(s, dir, "lineitem")
          .where(col("l_shipdate") > lit("1998-06-30"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc).limit(10)
          .select(col("l_orderkey"), round(col("revenue"), 4).as("revenue"),
            col("orderdate"), col("o_orderpriority"))
      },
      Some("""SELECT l_orderkey,
        |round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue,
        |strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY l_orderkey, orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q5-shaped 6-table join: the nation→region dim chain broadcasts, the
    // local-supplier condition joins lineitem↔supplier on (suppkey) with
    // the nationkey equality applied post-join.
    "q5_join" -> Q(
      (s, dir) => {
        val region = TestStores.table(s, dir, "region")
        val nation = TestStores.table(s, dir, "nation")
        val cust = TestStores.table(s, dir, "customer")
        val supp = TestStores.table(s, dir, "supplier")
        val ord = TestStores.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
        val li = TestStores.table(s, dir, "lineitem")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust.select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp.select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region.where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"))
          .select(col("n_name"), round(col("revenue"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
        |round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- GetPred: predicate algebra over metadata (SURVEY §2.1 #4, §2.3) ----
    "vdb_get_pred" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        e.getPred("docs", And(In("lang", Set(RawString("en"), RawString("de"))),
          NotEquals("source", RawString("src3"))))
          .select(element_at(col("key"), 1).cast("bigint").as("doc_id"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
        |WHERE lang IN ('en','de') AND source <> 'src3' ORDER BY doc_id""".stripMargin)),

    // missing-key semantics: NotEquals matches entries lacking the key
    // (scan semantics, store.rs:913-932)
    "vdb_get_pred_missing_key" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        e.getPred("docs", NotEquals("long", RawString("yes")))
          .select(element_at(col("key"), 1).cast("bigint").as("doc_id"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id FROM documents WHERE n_chars <= 300 ORDER BY doc_id")),

    "vdb_get_pred_not_in" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        e.getPred("docs", Or(NotIn("lang", Set(RawString("en"), RawString("es"),
          RawString("fr"), RawString("zh"))), Equals("source", RawString("src1"))))
          .select(element_at(col("key"), 1).cast("bigint").as("doc_id"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
        |WHERE lang NOT IN ('en','es','fr','zh') OR source = 'src1'
        |ORDER BY doc_id""".stripMargin)),

    // ---- GetKey: point lookup by exact vector (SURVEY §2.1 #3) ----
    "vdb_get_key" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        val keys = TestStores.table(s, dir, "embeddings")
          .where(col("vec_id").isin(5, 7, 11)).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        e.getKey("emb", keys)
          .select(element_at(col("value"), "vec_id").getField("str")
            .cast("bigint").as("vec_id"))
          .orderBy("vec_id")
      },
      Some("SELECT vec_id FROM embeddings WHERE vec_id IN (5,7,11) ORDER BY vec_id")),

    // ---- GetSimN, linear × all 3 metrics (SURVEY §2.1 #5, §2.4) ----
    "vdb_sim_cosine" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.CosineSimilarity))
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true))),

    "vdb_sim_dot" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.DotProductSimilarity))
      },
      Some(simOracle(dotSql("e.embedding", "q.qe"), desc = true))),

    "vdb_sim_euclidean" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.EuclideanDistance))
      },
      Some(simOracle(euclidSql("e.embedding", "q.qe"), desc = false))),

    // linear + predicate pre-filter (dispatch arm 2, store.rs:336-361)
    "vdb_sim_cosine_filtered" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.CosineSimilarity,
          Some(In("label", Set(RawString("1"), RawString("2"), RawString("3"))))))
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE CAST(e.label AS VARCHAR) IN ('1','2','3')"))),

    // ---- GetSimN via KD-tree index: exact, so fully oracle-checkable
    // (SURVEY §2.4; similarity reported = squared euclidean,
    // non_linear.rs:151-175) ----
    "vdb_sim_kdtree" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.KDTree))
      },
      Some(simOracle(sqEuclidSql("e.embedding", "q.qe"), desc = false))),

    // ---- GetSimN via HNSW. At the correctness scale factor each shard
    // holds ≲ M vectors, so every per-shard graph is complete and the
    // search is exhaustive → the merged result EQUALS exact cosine top-k
    // and earns the full oracle. Real-graph (10k-node) recall is asserted
    // separately by the RecallSpec harness at the BASELINE.md thresholds. ----
    "vdb_sim_hnsw" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        TestStores.simResult(e.getSimN("emb", TestStores.queryVec(s, dir), 10,
          Algorithm.HNSW))
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true))),

    // ---- GetSimN via the coarse-ROUTED sharded HNSW, through the
    // reference-parity API: the store's only index is the "hnsw_routed"
    // extension kind, so Algorithm.HNSW dispatches to the content-routed
    // 100 TB read path (GraftEngine.ensureRoutedIndex). Exhaustive probes
    // + a beam wider than any shard ⇒ exact cosine top-k, same oracle as
    // vdb_sim_hnsw; pruned-probe recall curves live in RoutedAnnSpec /
    // SCALE.md. ----
    "vdb_sim_hnsw_routed" -> Q(
      (s, dir) => {
        val e = TestStores.routedEngine(s, dir)
        TestStores.simResult(e.getSimN("embr", TestStores.queryVec(s, dir), 10,
          Algorithm.HNSW))
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true))),

    // ---- routed index under MUTATION: DelKey tombstones the deleted ids
    // on the LIVE index (no recluster — RoutedAnnIndex.delete's tombstone
    // tier, round 13) and the next exhaustive search must equal exact
    // cosine over the SURVIVORS. The query vector itself is among the
    // deleted rows — the strictest case for the tombstone filter. ----
    "vdb_sim_hnsw_routed_mutated" -> Q(
      (s, dir) => {
        // fixture phase (bench split): private store population + index
        // build + victim collection — the EXERCISE is the tombstone
        // delete and the post-mutation search
        val (e, victims) = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("embrm", 64)
          e.set("embrm", TestStores.embEntries(s, dir))
          e.createNonLinearIndex("embrm", Seq(
            graft.types.NonLinearConfig.RoutedHNSWConfig(
              hnsw = graft.types.NonLinearConfig.HNSWConfig(
                efConstruction = 100, maximumConnections = 40,
                maximumConnectionsZero = 80, efSearch = 4096),
              numShards = 8, probes = 8)))
          // force the structure live BEFORE deleting, so the DelKey below
          // exercises the tombstone tier on a built index (not a lazy
          // post-mutation rebuild that would never see the tombstones)
          e.getSimN("embrm", TestStores.queryVec(s, dir), 1, Algorithm.HNSW).count()
          (e, TestStores.table(s, dir, "embeddings")
            .where(col("vec_id") < 5).select("embedding")
            .collect().map(_.getSeq[Float](0).toArray).toSeq)
        }
        e.delKey("embrm", victims)
        // materialize while the store generation is live, then release
        val rows = TestStores.simResult(e.getSimN("embrm",
            TestStores.queryVec(s, dir), 10, Algorithm.HNSW))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("embrm")
        import s.implicits._
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE e.vec_id >= 5"))),

    // ---- CDC into an engine STORE (StreamingIngest.ingestCdcEntries):
    // a change stream of entries + op column replayed per micro-batch
    // through the SAME delKey/set paths as batch mutations — bucket-
    // incremental parquet, predicate indexes, ANN maintenance all
    // compose. The stream deletes vec_ids {0..9, 12}, then RESURRECTS 3
    // (delete→insert across batches; content identity = the vector);
    // the oracle is exact cosine over the net survivors. The query
    // vector is deleted row 0's own embedding — a deleted vector stays
    // a valid probe, its row just can't be a result. ----
    "vdb_cdc_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        // fixture phase (bench split): store creation, driver-side input
        // collection, initial corpus population — the exercise is the
        // CDC replay and the post-stream search
        val (e, emb, half) = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("cdcs", 64)
          val emb = TestStores.table(s, dir, "embeddings")
            .select(col("vec_id").cast("long"), col("embedding"),
              col("label").cast("string"))
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
          val half = emb.map(_._1).max / 2
          (e, emb, half)
        }
        def entriesDf(rows: Seq[(Long, Seq[Float], String)]) =
          rows.toDF("vid", "key", "label").select(
            col("key").cast("array<float>").as("key"),
            map(lit("vec_id"), TestStores.metaStr(col("vid")),
              lit("label"), TestStores.metaStr(col("label"))).as("value"))
        graft.obs.Trace.fixture {
          e.set("cdcs", entriesDf(emb.filter(_._1 <= half).toSeq)) }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float], String, String, Long)]
        val src = mem.toDF().select(
          col("_2").cast("array<float>").as("key"),
          map(lit("vec_id"), TestStores.metaStr(col("_1")),
            lit("label"), TestStores.metaStr(col("_3"))).as("value"),
          col("_4").as("op"), col("_5").as("seq"))
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try graft.streaming.StreamingIngest.ingestCdcEntries(
            e, "cdcs", src, "key", "value", "op", seqCol = Some("seq"))
          finally s.conf.set(
            "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        def ins(r: (Long, Seq[Float], String), seq: Long) =
          (r._1, r._2, r._3, "insert", seq)
        def del(r: (Long, Seq[Float], String), seq: Long) =
          (r._1, r._2, r._3, "delete", seq)
        val byId = emb.map(r => r._1 -> r).toMap
        try {
          mem.addData(emb.filter(_._1 > half).map(ins(_, 1L)).toSeq ++
            (0L until 10L).map(i => del(byId(i), 1L)): _*)
          q.processAllAvailable()
          mem.addData(Seq(ins(byId(3L), 1L), del(byId(12L), 1L)): _*)
          q.processAllAvailable()
        } finally q.stop()
        val rows = TestStores.simResult(e.getSimN("cdcs",
            TestStores.queryVec(s, dir), 10, Algorithm.CosineSimilarity))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("cdcs")
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE e.vec_id NOT IN (0,1,2,4,5,6,7,8,9,12)"))),

    // ---- recall-TARGETED routed index through the parity API: the
    // config names the probes knob by what it buys (hnsw_routed(8,
    // recall=1.0)); the engine CALIBRATES at build (measured
    // recall-vs-probes curve, persisted in the manifest) and GetSimN
    // reads probes off it. recall=1.0 is the certification target —
    // probesFor always answers exhaustive (a sample can't certify
    // perfection), so with the wide beam the result set is exactly the
    // linear top-k: deterministic, hash-gateable end to end. Sub-1.0
    // targets (statistical floors) are RoutedEngineSpec territory. ----
    "vdb_sim_hnsw_routed_recall" -> Q(
      (s, dir) => {
        // fixture phase (bench split): store population; the exercise is
        // the calibrated index build (the certification ladder IS the
        // feature) and the curve-driven search
        val e = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("embrr", 64)
          e.set("embrr", TestStores.embEntries(s, dir))
          e
        }
        e.createNonLinearIndex("embrr", Seq(
          graft.types.NonLinearConfig.RoutedHNSWConfig(
            hnsw = graft.types.NonLinearConfig.HNSWConfig(
              efConstruction = 100, maximumConnections = 40,
              maximumConnectionsZero = 80, efSearch = 4096),
            numShards = 8, probes = 1, // the raw knob says ONE shard —
            recallTarget = Some(1.0)))) // — the target overrides it
        val rows = TestStores.simResult(e.getSimN("embrr",
            TestStores.queryVec(s, dir), 10, Algorithm.HNSW))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("embrr")
        import s.implicits._
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true))),

    // ---- routed dispatch × large accept set: the predicate accepts ~5.3k
    // rows (> the 4096 brute-force cutover), so GetSimN pushes a Bloom
    // sketch of the accepted ids INTO the routed graph search
    // (AnnSearch's in-filter arm) and re-verifies exactly at hydration —
    // the oracle is exact cosine over the filtered slice. ----
    "vdb_sim_hnsw_routed_filtered" -> Q(
      (s, dir) => {
        val e = TestStores.li4RoutedEngine(s, dir)
        e.getSimN("li4r", Array(1000f, 5000f, 50f, 2f), 10,
          Algorithm.HNSW, Some(NotEquals("flag", RawString("R"))))
          .select(
            element_at(col("key"), 1).cast("bigint").as("l_orderkey"),
            element_at(col("key"), 2).cast("bigint").as("l_partkey"),
            element_at(col("key"), 3).cast("bigint").as("l_suppkey"),
            element_at(col("key"), 4).cast("bigint").as("l_linenumber"),
            round(col("similarity").cast("double"), 4).as("sim"))
      },
      Some {
        def f(c: String) = s"CAST(CAST($c AS FLOAT) AS DOUBLE)"
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        val q = Seq("1000", "5000", "50", "2")
        val dot = cols.zip(q).map { case (c, v) => s"${f(c)} * ${f(v)}" }
          .mkString(" + ")
        val nc = s"sqrt(${cols.map(c => s"${f(c)} * ${f(c)}").mkString(" + ")})"
        val nq = s"sqrt(${q.map(v => s"${f(v)} * ${f(v)}").mkString(" + ")})"
        s"""WITH scored AS (
           |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           |    ($dot) / ($nc * $nq) AS s
           |  FROM lineitem WHERE l_orderkey <= 2000 AND l_returnflag <> 'R'
           |  ORDER BY s DESC, l_orderkey, l_partkey, l_suppkey, l_linenumber
           |  LIMIT 10)
           |SELECT l_orderkey, l_partkey, l_suppkey,
           |CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |round(CAST(CAST(s AS FLOAT) AS DOUBLE), 4) AS sim FROM scored""".stripMargin
      }),

    // ---- routed dispatch × SHARP filter (round 16): the predicate
    // accepts ~4.6k rows at sf0.01 — above the 4096 absolute cutover but
    // ≤ 10% of the 60k-row store — so GetSimN routes to the exact
    // in-shard SLICE SCAN (AnnSearch.filteredRoute's middle arm) instead
    // of the graph beam. The store's probes knob is deliberately PRUNED
    // (4 of 16 shards): the graph arm could not reproduce the exact
    // filtered top-10 from 4 probed shards, so the oracle hash-gates the
    // routing itself, not just the result. ----
    "vdb_sim_hnsw_routed_scan" -> Q(
      (s, dir) => {
        val e = TestStores.li4ScanEngine(s, dir)
        e.getSimN("li4s", Array(1000f, 5000f, 50f, 2f), 10,
          Algorithm.HNSW, Some(Equals("qb", RawString("7"))))
          .select(
            element_at(col("key"), 1).cast("bigint").as("l_orderkey"),
            element_at(col("key"), 2).cast("bigint").as("l_partkey"),
            element_at(col("key"), 3).cast("bigint").as("l_suppkey"),
            element_at(col("key"), 4).cast("bigint").as("l_linenumber"),
            round(col("similarity").cast("double"), 4).as("sim"))
      },
      Some {
        def f(c: String) = s"CAST(CAST($c AS FLOAT) AS DOUBLE)"
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        val q = Seq("1000", "5000", "50", "2")
        val dot = cols.zip(q).map { case (c, v) => s"${f(c)} * ${f(v)}" }
          .mkString(" + ")
        val nc = s"sqrt(${cols.map(c => s"${f(c)} * ${f(c)}").mkString(" + ")})"
        val nq = s"sqrt(${q.map(v => s"${f(v)} * ${f(v)}").mkString(" + ")})"
        s"""WITH scored AS (
           |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           |    ($dot) / ($nc * $nq) AS s
           |  FROM lineitem WHERE CAST(l_quantity AS INT) % 12 = 7
           |  ORDER BY s DESC, l_orderkey, l_partkey, l_suppkey, l_linenumber
           |  LIMIT 10)
           |SELECT l_orderkey, l_partkey, l_suppkey,
           |CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |round(CAST(CAST(s AS FLOAT) AS DOUBLE), 4) AS sim FROM scored""".stripMargin
      }),

    // ---- SQ8-quantized routed index through the parity API (round 14):
    // the store's hnsw_routed index stores int8 codes per graph node
    // (storage = "sq8" — ~1/4 the vector bytes, the 100 TB memory lever);
    // search traverses the quantized graphs, over-fetches RescoreSlack
    // candidates, and hydration rescores them EXACTLY against the store
    // table — so at exhaustive probes the result equals the linear
    // oracle. A DelKey mid-query also gates the tombstone tier on
    // quantized shards (deleted ids filtered from the code graphs; the
    // survivors' exact top-k is what hashes). ----
    "vdb_sim_hnsw_routed_sq8" -> Q(
      (s, dir) => {
        // fixture phase (bench split): store population + victim collect;
        // the exercise is the QUANTIZED index build, the tombstone
        // delete, and the rescored search
        val e = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("embrq", 64)
          e.set("embrq", TestStores.embEntries(s, dir))
          e
        }
        e.createNonLinearIndex("embrq", Seq(
          graft.types.NonLinearConfig.RoutedHNSWConfig(
            hnsw = graft.types.NonLinearConfig.HNSWConfig(
              efConstruction = 100, maximumConnections = 40,
              maximumConnectionsZero = 80, efSearch = 4096),
            numShards = 8, probes = 8, storage = "sq8")))
        // force the quantized structure live, then tombstone 3 rows on it
        e.getSimN("embrq", TestStores.queryVec(s, dir), 1, Algorithm.HNSW).count()
        val victims = TestStores.table(s, dir, "embeddings")
          .where(col("vec_id").isin(1, 2, 3)).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        e.delKey("embrq", victims)
        val rows = TestStores.simResult(e.getSimN("embrq",
            TestStores.queryVec(s, dir), 10, Algorithm.HNSW))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("embrq")
        import s.implicits._
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE e.vec_id NOT IN (1,2,3)"))),

    // ---- PQ-quantized routed index through the parity API (round 15):
    // the store's hnsw_routed index stores PRODUCT-QUANTIZED codes per
    // graph node (storage = "pq" → pq(m=8,ksub=256) at dim 64 — m BYTES
    // per vector, the byte-budget end of the VecStore seam); graphs
    // build and traverse on ADC-scored codes, search over-fetches the
    // WIDER PQ rescore slack (NodeStorage.Pq.rescoreSlack — its coarse
    // error is codebook-bounded, not range-bounded like SQ8's), and
    // hydration rescores EXACTLY against the store table — at exhaustive
    // probes the result equals the linear oracle. The same mid-query
    // DelKey gates the tombstone tier on PQ shards. ----
    "vdb_sim_hnsw_routed_pq" -> Q(
      (s, dir) => {
        // fixture phase (bench split): store population + victim collect;
        // the exercise is the PQ codebook training + index build, the
        // tombstone delete, and the rescored search
        val e = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("embrpq", 64)
          e.set("embrpq", TestStores.embEntries(s, dir))
          e
        }
        e.createNonLinearIndex("embrpq", Seq(
          graft.types.NonLinearConfig.RoutedHNSWConfig(
            hnsw = graft.types.NonLinearConfig.HNSWConfig(
              efConstruction = 100, maximumConnections = 40,
              maximumConnectionsZero = 80, efSearch = 4096),
            numShards = 8, probes = 8, storage = "pq")))
        // force the quantized structure live, then tombstone 3 rows on it
        e.getSimN("embrpq", TestStores.queryVec(s, dir), 1, Algorithm.HNSW).count()
        val victims = TestStores.table(s, dir, "embeddings")
          .where(col("vec_id").isin(1, 2, 3)).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        e.delKey("embrpq", victims)
        val rows = TestStores.simResult(e.getSimN("embrpq",
            TestStores.queryVec(s, dir), 10, Algorithm.HNSW))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("embrpq")
        import s.implicits._
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE e.vec_id NOT IN (1,2,3)"))),

    // ---- OPQ-quantized routed index through the parity API (round 16):
    // PQ behind a LEARNED orthogonal rotation (Ge et al. 2013 — same m
    // bytes/node; the rotation recovers the low-dim recall loss the pq
    // guard warns about, measured in ScaleOpq/ScaleQuant). The rotation
    // trains at create (driver-side bounded-sample OPQ-NP alternation),
    // rides the storage handle beside the codebook, and the DSL
    // spelling is hnsw_routed(8, 8, opq). At exhaustive probes the
    // rescored result equals the linear oracle — including through a
    // mid-query DelKey tombstone on the rotated-code shards. ----
    "vdb_sim_hnsw_routed_opq" -> Q(
      (s, dir) => {
        // fixture phase (bench split): store population + victim collect;
        // the exercise is the rotation + codebook training, the routed
        // build on rotated codes, the tombstone delete, and the rescored
        // search
        val e = graft.obs.Trace.fixture {
          val e = TestStores.freshEngine(s)
          e.createStore("embropq", 64)
          e.set("embropq", TestStores.embEntries(s, dir))
          e
        }
        graft.dsl.Pipeline.runDb(e,
          "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8, opq)) IN embropq")
        e.getSimN("embropq", TestStores.queryVec(s, dir), 1, Algorithm.HNSW).count()
        val victims = TestStores.table(s, dir, "embeddings")
          .where(col("vec_id").isin(1, 2, 3)).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        e.delKey("embropq", victims)
        val rows = TestStores.simResult(e.getSimN("embropq",
            TestStores.queryVec(s, dir), 10, Algorithm.HNSW))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        e.dropStore("embropq")
        import s.implicits._
        rows.toDF("vec_id", "sim")
      },
      Some(simOracle(cosSql("e.embedding", "q.qe"), desc = true,
        where = "WHERE e.vec_id NOT IN (1,2,3)"))),

    // ---- Set: dedup-by-content upsert counts (SURVEY §2.1 #2) ----
    "vdb_set_counts" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        e.createStore("set_counts_probe", 64)
        val entries = TestStores.embEntries(s, dir)
        val (i1, u1) = e.set("set_counts_probe", entries)
        val (i2, u2) = e.set("set_counts_probe", entries) // re-SET = update
        val len = e.storeDf("set_counts_probe").count()
        e.dropStore("set_counts_probe")
        import s.implicits._
        Seq((i1, u1, i2, u2, len)).toDF(
          "inserted_first", "updated_first", "inserted_second", "updated_second", "len")
      },
      Some("""WITH d AS (SELECT COUNT(*) AS c FROM (SELECT DISTINCT embedding FROM embeddings))
        |SELECT CAST(c AS BIGINT) AS inserted_first, CAST(0 AS BIGINT) AS updated_first,
        |CAST(0 AS BIGINT) AS inserted_second, CAST(c AS BIGINT) AS updated_second,
        |CAST(c AS BIGINT) AS len FROM d""".stripMargin)),

    // ---- DelKey (SURVEY §2.1 #7) ----
    "vdb_del_key" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        e.createStore("del_key_probe", 64)
        e.set("del_key_probe", TestStores.embEntries(s, dir))
        val victims = TestStores.table(s, dir, "embeddings")
          .where(col("vec_id") < 5).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        val deleted = e.delKey("del_key_probe", victims)
        val out = e.storeDf("del_key_probe")
          .select(element_at(col("value"), "vec_id").getField("str")
            .cast("bigint").as("vec_id"))
          .withColumn("deleted", lit(deleted)).orderBy("vec_id")
        out
      },
      Some("""SELECT vec_id, CAST(5 AS BIGINT) AS deleted FROM embeddings
        |WHERE vec_id >= 5 ORDER BY vec_id""".stripMargin)),

    // ---- DelPred (SURVEY §2.1 #8) ----
    "vdb_del_pred" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        e.createStore("del_pred_probe", 1)
        e.set("del_pred_probe", TestStores.docEntries(s, dir))
        e.delPred("del_pred_probe", Equals("lang", RawString("zh")))
        e.storeDf("del_pred_probe")
          .select(element_at(col("key"), 1).cast("bigint").as("doc_id"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id FROM documents WHERE lang <> 'zh' ORDER BY doc_id")),

    // ---- Upsert: exactly-one-match + metadata merge (SURVEY §2.1 #6) ----
    "vdb_upsert" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        e.createStore("upsert_probe", 1)
        val entries = TestStores.table(s, dir, "documents").select(
          array(col("doc_id").cast("float")).as("key"),
          map(
            lit("doc_id"), TestStores.metaStr(col("doc_id")),
            lit("lang"), TestStores.metaStr(col("lang")),
            lit("source"), TestStores.metaStr(col("source"))).as("value"))
        e.set("upsert_probe", entries)
        e.upsert("upsert_probe", Equals("doc_id", RawString("42")),
          newValue = Some(Map("reviewed" -> RawString("yes"))), mergeMetadata = true)
        e.storeDf("upsert_probe")
          .where(element_at(col("value"), "doc_id").getField("str") === "42")
          .select(
            element_at(col("value"), "doc_id").getField("str").cast("bigint").as("doc_id"),
            element_at(col("value"), "lang").getField("str").as("lang"),
            element_at(col("value"), "source").getField("str").as("source"),
            element_at(col("value"), "reviewed").getField("str").as("reviewed"))
      },
      Some("""SELECT doc_id, lang, source, 'yes' AS reviewed FROM documents
        |WHERE doc_id = 42""".stripMargin)),

    // ---- DSL + Pipeline: full front-end slice (SURVEY §2.6, §2.1 #20;
    // parser mirrors dsl/src/syntax/syntax.pest, executor mirrors the
    // pipeline handler loop db/src/server/handler.rs:526-895). Runs a
    // 6-statement script through parse → plan → execute, including a
    // mid-pipeline error that must be captured without aborting. ----
    "vdb_dsl_pipeline" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        val script =
          """CREATESTORE pipe_store DIMENSION 3 PREDICATES (page);
            |SET (([0.2, 0.1, 0.0], {page: home, tag: a}), ([0.9, 0.8, 0.7], {page: hidden, tag: b}), ([0.1, 0.1, 0.1], {page: home, tag: c})) IN pipe_store;
            |GETSIMN 2 WITH [0.2, 0.1, 0.1] USING cosinesimilarity IN pipe_store WHERE (page != hidden);
            |GETPRED (page = nowhere) IN missing_store;
            |DELKEY ([0.1, 0.1, 0.1]) IN pipe_store;
            |GETSIMN 2 WITH [0.2, 0.1, 0.1] USING cosinesimilarity IN pipe_store WHERE (page != hidden)""".stripMargin
        val results = graft.dsl.Pipeline.runDb(e, script)
        val rows = results.zipWithIndex.flatMap {
          case (Left(_), i) =>
            Seq((i.toLong, "error", Option.empty[String], Option.empty[Double]))
          case (Right(graft.dsl.Response.Ok), i) =>
            Seq((i.toLong, "ok", Option.empty[String], Option.empty[Double]))
          case (Right(graft.dsl.Response.SetResult(ins, upd)), i) =>
            Seq((i.toLong, s"set:$ins:$upd", Option.empty[String], Option.empty[Double]))
          case (Right(graft.dsl.Response.Count(n)), i) =>
            Seq((i.toLong, s"count:$n", Option.empty[String], Option.empty[Double]))
          case (Right(graft.dsl.Response.SimEntries(df)), i) =>
            df.select(
              element_at(col("value"), "tag").getField("str"),
              round(col("similarity").cast("double"), 4))
              .collect().toSeq.map(r =>
                (i.toLong, "rows", Option(r.getString(0)), Option(r.getDouble(1))))
          case (Right(other), i) =>
            Seq((i.toLong, other.getClass.getSimpleName, Option.empty[String],
              Option.empty[Double]))
        }
        e.dropStore("pipe_store")
        import s.implicits._
        rows.toDF("step", "info", "tag", "sim").orderBy("step", "tag")
      },
      Some {
        // float32 literal discipline: route every literal through FLOAT so
        // DuckDB's math starts from the same f32 bits Spark stores
        def fl(vs: String) = s"list_transform([$vs], x -> CAST(CAST(x AS FLOAT) AS DOUBLE))"
        def cosOf(vs: String) =
          s"round(CAST(CAST(${cosSql(fl(vs), fl("0.2, 0.1, 0.1"))} AS FLOAT) AS DOUBLE), 4)"
        s"""SELECT CAST(step AS BIGINT) AS step, info, tag, sim FROM (VALUES
           |  (0, 'ok',      NULL, CAST(NULL AS DOUBLE)),
           |  (1, 'set:3:0', NULL, NULL),
           |  (2, 'rows',    'a',  ${cosOf("0.2, 0.1, 0.0")}),
           |  (2, 'rows',    'c',  ${cosOf("0.1, 0.1, 0.1")}),
           |  (3, 'error',   NULL, NULL),
           |  (4, 'count:1', NULL, NULL),
           |  (5, 'rows',    'a',  ${cosOf("0.2, 0.1, 0.0")})
           |) t(step, info, tag, sim) ORDER BY step, tag""".stripMargin
      }),

    // ---- Filtered ANN above the brute-force cutover: the accept set
    // (~2/3 of lineitem) is ≫ 4096, so GetSimN(KDTree) takes the Bloom-
    // sketch arm (distributed aggregation → broadcast → in-filter → exact
    // predicate re-verify at hydration; AnnSearch in RoutedAnnIndex.scala) — and must still
    // match the exact oracle. ----
    "vdb_sim_kdtree_filtered_large" -> Q(
      (s, dir) => {
        // shared read-only probe store (built once, outside bench timing —
        // this entry times the filtered SEARCH, not the 600k-row ingest)
        val e = TestStores.li4Engine(s, dir)
        e.getSimN("li4", Array(1000f, 5000f, 50f, 2f), 10,
          Algorithm.KDTree, Some(NotEquals("flag", RawString("R"))))
          .select(
            element_at(col("key"), 1).cast("bigint").as("l_orderkey"),
            element_at(col("key"), 2).cast("bigint").as("l_partkey"),
            element_at(col("key"), 3).cast("bigint").as("l_suppkey"),
            element_at(col("key"), 4).cast("bigint").as("l_linenumber"),
            round(col("similarity").cast("double"), 4).as("sim"))
      },
      Some {
        def f(c: String) = s"CAST(CAST($c AS FLOAT) AS DOUBLE)"
        val q = Seq("1000", "5000", "50", "2")
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        val sq = cols.zip(q).map { case (c, v) =>
          s"(${f(c)} - ${f(v)}) * (${f(c)} - ${f(v)})" }.mkString(" + ")
        s"""WITH scored AS (
           |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, $sq AS s
           |  FROM lineitem WHERE l_returnflag <> 'R'
           |  ORDER BY s ASC, l_orderkey, l_partkey, l_suppkey, l_linenumber
           |  LIMIT 10)
           |SELECT l_orderkey, l_partkey, l_suppkey,
           |CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |round(CAST(CAST(s AS FLOAT) AS DOUBLE), 4) AS sim FROM scored""".stripMargin
      }),

    // ---- operator tail: store/schema/index lifecycle semantics in one
    // scripted sequence — drop-public guard, idempotency counts, if-exists
    // flags, purge (store.rs:651-736, server_tests.rs schema suite) ----
    "vdb_store_lifecycle" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        val steps = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        var i = 0
        def step(info: => String): Unit = {
          val v = try info catch { case ex: Exception => "error" }
          steps += ((i.toLong, v)); i += 1
        }
        step { e.createStore("a", 4); "ok" }
        step { s"exists:${e.createStore("a", 4, errorIfExists = false)}" }
        step { try { e.createStore("a", 4); "created" }
               catch { case _: Exception => "already-exists" } }
        step { e.createStore("b", 4, schema = "t9"); "ok" }
        step { s"ping:${e.ping()}" }
        step { s"clients:${e.listClients().size}" }
        step { s"info:${e.infoServer().contains("version")}" }
        step { s"pred-new:${e.createPredIndex("a", Set("x", "y"))}" }
        step { s"pred-idem:${e.createPredIndex("a", Set("y", "z"))}" } // only z new
        step { s"pred-drop:${e.dropPredIndex("a", Set("z"))}" }
        step { try { e.dropPredIndex("a", Set("missing")); "dropped" }
               catch { case _: Exception => "pred-missing-error" } }
        step { s"pred-drop-ifexists:${e.dropPredIndex("a", Set("missing"), errorIfNotExists = false)}" }
        step { s"nl-new:${e.createNonLinearIndex("a", Seq(NonLinearConfig.KDTreeConfig()))}" }
        step { s"nl-idem:${e.createNonLinearIndex("a", Seq(NonLinearConfig.KDTreeConfig()))}" }
        step {
          val st = e.getStore("a")
          s"getstore:${st.dimension}:${st.predicateIndexes.mkString("+")}:${st.nonLinearIndexes.mkString("+")}"
        }
        step { s"nl-drop:${e.dropNonLinearIndex("a", Set("kdtree"))}" }
        step { try { e.dropSchema("public"); "dropped" }
               catch { case _: Exception => "public-guarded" } }
        step { s"schema-drop:${e.dropSchema("t9")}" }
        step { try { e.dropSchema("t9"); "dropped" }
               catch { case _: Exception => "schema-missing-error" } }
        step { s"purge:${e.purgeStores()}" }
        step { s"post-purge:${e.listStores().size}" }
        import s.implicits._
        steps.toSeq.toDF("step", "info")
      },
      Some("""SELECT CAST(step AS BIGINT) AS step, info FROM (VALUES
        |  (0, 'ok'), (1, 'exists:false'), (2, 'already-exists'), (3, 'ok'),
        |  (4, 'ping:PONG'), (5, 'clients:1'), (6, 'info:true'),
        |  (7, 'pred-new:2'), (8, 'pred-idem:1'), (9, 'pred-drop:1'),
        |  (10, 'pred-missing-error'), (11, 'pred-drop-ifexists:0'),
        |  (12, 'nl-new:1'), (13, 'nl-idem:0'), (14, 'getstore:4:x+y:kdtree'),
        |  (15, 'nl-drop:1'), (16, 'public-guarded'), (17, 'schema-drop:1'),
        |  (18, 'schema-missing-error'), (19, 'purge:1'), (20, 'post-purge:0')
        |) t(step, info) ORDER BY step""".stripMargin)),

    // ---- Observability: engine-op tracing (graft.obs.Trace; the
    // reference's ahnlich/tracer analog). A scripted op sequence on a
    // fresh engine with tracing enabled must record one span per op with
    // the right outcome — aggregated to (op, n, n_ok) so the result is
    // deterministic (durations/job counts are real but not assertable
    // cross-run). The store name is nonce'd per invocation because the
    // span recorder is JVM-global and bench replays the query 3×. ----
    "vdb_trace" -> Q(
      (s, dir) => {
        val e = TestStores.freshEngine(s)
        val store = s"tr_${traceNonce.incrementAndGet()}"
        val prev = graft.obs.Trace.enabled
        graft.obs.Trace.enabled = true
        try {
          e.createStore(store, 4)
          e.setSeq(store, Seq(
            (Array(1f, 0f, 0f, 0f), Map[String, MetadataValue](
              "t" -> MetadataValue.RawString("x"))),
            (Array(0f, 1f, 0f, 0f), Map[String, MetadataValue](
              "t" -> MetadataValue.RawString("y")))))
          e.getPred(store, Equals("t", MetadataValue.RawString("x")))
          try e.createStore(store, 4) catch { case _: Exception => () }
          e.delKey(store, Seq(Array(1f, 0f, 0f, 0f)))
          e.dropStore(store)
        } finally graft.obs.Trace.enabled = prev
        graft.obs.Trace.frame(s).where(col("store") === store)
          .groupBy("op").agg(
            count(lit(1)).as("n"),
            sum(col("ok").cast("long")).as("n_ok"))
          .orderBy("op")
      },
      Some("""SELECT op, CAST(n AS BIGINT) AS n, CAST(n_ok AS BIGINT) AS n_ok
        |FROM (VALUES
        |  ('CreateStore', 2, 1), ('Set', 1, 1), ('GetPred', 1, 1),
        |  ('DelKey', 1, 1), ('DropStore', 1, 1)
        |) t(op, n, n_ok) ORDER BY op""".stripMargin)),

    // ---- Persistence: tables-as-truth restart round-trip (SURVEY §7.3;
    // reference persistence suites server_tests.rs:772,3219). Write through
    // a persistent engine, reload a BRAND-NEW engine from the catalog, and
    // answer from the reloaded state — hash-checked against the oracle. ----
    "vdb_persistence" -> Q(
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("graft-verify-persist").toString
        val e1 = new graft.engine.GraftEngine(s, Some(root))
        e1.createStore("pdocs", 1, predicates = Set("lang"))
        e1.set("pdocs", TestStores.docEntries(s, dir))
        e1.delPred("pdocs", Equals("lang", RawString("zh")))
        // restart: fresh engine, same root
        val e2 = graft.engine.GraftEngine.load(s, root)
        val out = e2.getPred("pdocs", NotEquals("lang", RawString("en")))
          .select(element_at(col("key"), 1).cast("bigint").as("doc_id"))
          .orderBy("doc_id")
        val rows = out.collect() // materialize before cleanup
        e2.purgeStores()
        graft.engine.Persistence.deleteDir(root)
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some("""SELECT doc_id FROM documents
        |WHERE lang <> 'zh' AND lang <> 'en' ORDER BY doc_id""".stripMargin)),

    // ---- AI layer (SURVEY §2.2): raw-input stores through the mock
    // embedder. Oracle-checkable invariants: the reserved-key round-trip
    // returns originals, self-query cosine similarity is exactly 1.0
    // (deterministic embedder), one-to-many expansion counts are
    // 1 + (byte_len mod 3) by MockEmbedder contract. ----

    // AI Set + GetKey by raw input (operations.rs:182-267, store.rs:500-521)
    "ai_set_get_key" -> Q(
      (s, dir) => {
        val ai = TestStores.aiEngine(s, dir)
        val probes = Seq(5L, 7L, 11L).map(id =>
          graft.types.MetadataValue.RawString(TestStores.docText(s, dir, id)))
        ai.getKey("ai_docs", probes)
          .select(
            element_at(col("value"), "doc_id").getField("str")
              .cast("bigint").as("doc_id"),
            element_at(col("value"), "lang").getField("str").as("lang"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, lang FROM documents WHERE doc_id IN (5,7,11) ORDER BY doc_id")),

    // AI GetSimN: embed query with query_model, delegate, restore original
    // input (ai/src/server/handler.rs:339-420). Self-query → sim 1.0.
    "ai_sim_self" -> Q(
      (s, dir) => {
        val ai = TestStores.aiEngine(s, dir)
        val q = graft.types.MetadataValue.RawString(TestStores.docText(s, dir, 42L))
        ai.getSimN("ai_docs", q, 1, Algorithm.CosineSimilarity)
          .select(
            element_at(col("value"), "doc_id").getField("str")
              .cast("bigint").as("doc_id"),
            round(col("similarity").cast("double"), 4).as("sim"))
      },
      Some("SELECT CAST(42 AS BIGINT) AS doc_id, CAST(1.0 AS DOUBLE) AS sim")),

    // AI one-to-many expansion (buffalo-l faces): one image input → 1+(len%3)
    // entries with sequential _ahnlich_one_to_many_index
    // (ai/src/engine/store.rs:391-424; MockEmbedder count contract).
    "ai_one_to_many" -> Q(
      (s, dir) => {
        val ai = TestStores.freshEngine(s)
        val aiE = new graft.ai.AiEngine(ai)
        aiE.createStore("faces", "buffalo-l", "buffalo-l", storeOriginal = true)
        val entries = TestStores.table(s, dir, "documents")
          .where(col("doc_id") < 10)
          .select(
            struct(lit("image").as("kind"),
              lit(null).cast(org.apache.spark.sql.types.StringType).as("str"),
              encode(col("text"), "UTF-8").as("bin")).as("input"),
            map(lit("doc_id"), TestStores.metaStr(col("doc_id"))).as("value"))
        aiE.setDf("faces", entries)
        val out = ai.storeDf("faces")
          .groupBy(element_at(col("value"), "doc_id").getField("str")
            .cast("bigint").as("doc_id"))
          .agg(count(lit(1)).as("faces"))
          .orderBy("doc_id")
        out
      },
      // octet_length, NOT strlen: MockEmbedder counts UTF-8 BYTES — char
      // counting silently diverges on any non-ASCII doc (AiSpec pins this)
      Some("""SELECT doc_id, CAST(1 + (octet_length(encode(text)) % 3) AS BIGINT) AS faces
        |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin)),

    // ConvertStoreInputToEmbeddings (protos/ai/query.proto:178-184): dims
    // and unit-norm of the produced embeddings are the checkable contract.
    "ai_convert_embeddings" -> Q(
      (s, dir) => {
        val ai = TestStores.aiEngine(s, dir)
        val inputs = Seq(1L, 2L, 3L).map(id =>
          id -> graft.types.MetadataValue.RawString(TestStores.docText(s, dir, id)))
        val out = ai.convertStoreInputToEmbeddings(inputs.map(_._2), "bge-large-en-v1.5")
        import s.implicits._
        inputs.map(_._1).zip(out).map { case (id, (_, v)) =>
          val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
          (id, v.length, BigDecimal(norm).setScale(4,
            BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        }.toDF("doc_id", "dim", "norm").orderBy("doc_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id, 1024 AS dim,
        |CAST(1.0 AS DOUBLE) AS norm FROM documents
        |WHERE doc_id IN (1,2,3) ORDER BY doc_id""".stripMargin)),

    // AI DSL routing: GETPRED and DROPPREDINDEX inside an AI pipeline go
    // through the AI engine (ai/src/engine/operations.rs:276-278) — GETPRED
    // restores originals into the input slot with the reserved key STRIPPED
    // from the value map, and DROPPREDINDEX can never drop the reserved
    // index (count excludes it; GETSTORE proves it survived).
    "ai_dsl_getpred" -> Q(
      (s, dir) => {
        val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
        val script =
          """CREATESTORE dsl_ai QUERYMODEL all-minilm-l6-v2 INDEXMODEL all-minilm-l6-v2 PREDICATES (cat) STOREORIGINAL;
            |SET (([alpha doc], {cat: x}), ([beta doc], {cat: y}), ([gamma doc], {cat: x})) IN dsl_ai PREPROCESSACTION nopreprocessing EXECUTIONPROVIDER cuda;
            |DROPPREDINDEX (cat, _ahnlich_input_key) IN dsl_ai;
            |GETPRED (cat = x) IN dsl_ai;
            |GETSTORE dsl_ai""".stripMargin
        val results = graft.dsl.Pipeline.runAi(aiE, script)
        val rows = results.zipWithIndex.flatMap {
          case (Right(graft.dsl.Response.Ok), i) =>
            Seq((i.toLong, "ok", Option.empty[String], Option.empty[Long]))
          case (Right(graft.dsl.Response.SetResult(ins, upd)), i) =>
            Seq((i.toLong, s"set:$ins:$upd", Option.empty[String], Option.empty[Long]))
          case (Right(graft.dsl.Response.Count(n)), i) =>
            Seq((i.toLong, s"count:$n", Option.empty[String], Option.empty[Long]))
          case (Right(graft.dsl.Response.Entries(df)), i) =>
            df.collect().toSeq.map { r =>
              val value = r.getMap[String, org.apache.spark.sql.Row](1)
              (i.toLong, "row", Option(r.getStruct(0).getString(1)),
                Option(value.size.toLong)) // 1 == reserved key stripped
            }
          case (Right(graft.dsl.Response.StoreGet(info)), i) =>
            // the SET's session config round-trips through the catalog
            Seq((i.toLong,
              s"preds:${info.predicateIndexes.toSeq.sorted.mkString("+")}" +
                s":pp=${info.preprocessAction.getOrElse("-")}" +
                s":ep=${info.executionProvider.getOrElse("-")}",
              Option.empty[String], Option.empty[Long]))
          case (Left(_), i) =>
            Seq((i.toLong, "error", Option.empty[String], Option.empty[Long]))
          case (Right(other), i) =>
            Seq((i.toLong, other.getClass.getSimpleName,
              Option.empty[String], Option.empty[Long]))
        }
        aiE.dropStore("dsl_ai")
        import s.implicits._
        rows.toDF("step", "info", "input", "n_keys").orderBy("step", "input")
      },
      Some("""SELECT CAST(step AS BIGINT) AS step, info, input,
        |CAST(n_keys AS BIGINT) AS n_keys FROM (VALUES
        |  (0, 'ok', NULL, NULL),
        |  (1, 'set:3:0', NULL, NULL),
        |  (2, 'count:1', NULL, NULL),
        |  (3, 'row', 'alpha doc', 1),
        |  (3, 'row', 'gamma doc', 1),
        |  (4, 'preds:_ahnlich_input_key:pp=nopreprocessing:ep=cuda', NULL, NULL)
        |) t(step, info, input, n_keys) ORDER BY step, input""".stripMargin)),

    // AI Upsert invariants (ahnlich/db/src/tests/upsert.rs;
    // ai/src/engine/store.rs:433-497): none/many matches error, exactly-one
    // merges metadata, a new input re-embeds AND refreshes the stashed
    // original (GetKey by the new raw input finds the entry), one-to-many
    // index models reject upsert outright.
    "ai_upsert" -> Q(
      (s, dir) => {
        val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
        aiE.createStore("ups", "all-minilm-l6-v2", "all-minilm-l6-v2",
          predicates = Set("name"), storeOriginal = true)
        aiE.set("ups", Seq(
          RawString("u one") -> Map("name" -> (RawString("a"): MetadataValue)),
          RawString("u two") -> Map("name" -> (RawString("b"): MetadataValue))))
        val steps = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        var i = 0
        def step(info: => String): Unit = {
          val v = try info catch { case _: Exception => "error" }
          steps += ((i.toLong, v)); i += 1
        }
        step { aiE.upsert("ups", Equals("name", RawString("zzz")),
          newValue = Some(Map("tag" -> RawString("t")))); "ok" } // none → error
        step { aiE.upsert("ups", Equals("name", RawString("a")),
          newValue = Some(Map("tag" -> RawString("t")))); "ok" } // one → merge
        step { aiE.upsert("ups", In("name", Set(RawString("a"), RawString("b"))),
          newValue = Some(Map("tag" -> RawString("x")))); "ok" } // many → error
        step { aiE.upsert("ups", Equals("name", RawString("b")),
          newInput = Some(RawString("u two prime"))); "ok" }     // re-embed + restash
        step { "getkey:" + aiE.getKey("ups", Seq(RawString("u two prime")))
          .select(element_at(col("value"), "name").getField("str"))
          .head.getString(0) }
        step {
          val m = aiE.getPred("ups", Equals("name", RawString("a"))).collect()
            .head.getMap[String, org.apache.spark.sql.Row](1)
          s"a:${m.keys.toSeq.sorted.mkString("+")}:${m("tag").getString(1)}"
        }
        step {
          aiE.createStore("ups_faces", "buffalo-l", "buffalo-l", storeOriginal = true)
          try { aiE.upsert("ups_faces", Equals("name", RawString("a"))); "ok" }
          catch { case _: Exception => "o2m-rejected" }
        }
        aiE.dropStore("ups"); aiE.dropStore("ups_faces")
        import s.implicits._
        steps.toSeq.toDF("step", "info")
      },
      Some("""SELECT CAST(step AS BIGINT) AS step, info FROM (VALUES
        |  (0, 'error'), (1, 'ok'), (2, 'error'), (3, 'ok'),
        |  (4, 'getkey:b'), (5, 'a:name+tag:t'), (6, 'o2m-rejected')
        |) t(step, info) ORDER BY step""".stripMargin)),

    // AI DelKey by raw input (the reserved-key DelPred delegation,
    // ai/src/engine/store.rs:500-521) over a bulk-ingested corpus.
    "ai_del_key" -> Q(
      (s, dir) => {
        val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
        aiE.createStore("deldocs", "all-minilm-l6-v2", "all-minilm-l6-v2",
          storeOriginal = true)
        val entries = TestStores.table(s, dir, "documents")
          .where(col("doc_id") < 50)
          .select(
            struct(lit("raw_string").as("kind"), col("text").as("str"),
              lit(null).cast(org.apache.spark.sql.types.BinaryType).as("bin"))
              .as("input"),
            map(lit("doc_id"), TestStores.metaStr(col("doc_id"))).as("value"))
        aiE.setDf("deldocs", entries)
        val deleted = aiE.delKey("deldocs",
          Seq(3L, 9L).map(id => RawString(TestStores.docText(s, dir, id))))
        val out = aiE.db.storeDf("deldocs")
          .select(element_at(col("value"), "doc_id").getField("str")
            .cast("bigint").as("doc_id"))
          .withColumn("deleted", lit(deleted)).orderBy("doc_id")
        val rows = out.collect()
        aiE.dropStore("deldocs")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS deleted FROM documents
        |WHERE doc_id < 50 AND doc_id NOT IN (3, 9) ORDER BY doc_id""".stripMargin)),

    // ---- AI-layer CDC (round 14, StreamingIngest.ingestAiCdcEntries):
    // a Debezium-shaped change stream of RAW TEXT inputs (not vectors)
    // replayed into an AI store — each micro-batch embeds through the
    // store's index model inside setDf (reserved-key stash, composite
    // stale-delete+Set) and deletes by raw input via delKey, so the
    // crawl-shaped pipeline needs zero hand-written glue. In-batch
    // sequencing (doc 5: delete@1 then insert@2 nets LIVE with the new
    // mark), cross-batch resurrection (doc 2: deleted in batch 1,
    // re-inserted in batch 2), and the oracle is the net survivor set
    // with last-writer marks. ----
    "ai_cdc_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        // fixture phase (bench split): AI store creation + input collect +
        // initial corpus embed — the exercise is the AI CDC replay
        val (aiE, docs) = graft.obs.Trace.fixture {
          val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
          aiE.createStore("cdc_ai", "all-minilm-l6-v2", "all-minilm-l6-v2",
            storeOriginal = true)
          (aiE, TestStores.table(s, dir, "documents")
            .where(col("doc_id") < 50)
            .select(col("doc_id").cast("long"), col("text"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
        }
        def entryDf(ids: Seq[Long], mark: String) =
          ids.map(id => (docs(id), id)).toDF("text", "doc_id").select(
            struct(lit("raw_string").as("kind"), col("text").as("str"),
              lit(null).cast(org.apache.spark.sql.types.BinaryType).as("bin"))
              .as("input"),
            map(lit("doc_id"), TestStores.metaStr(col("doc_id")),
              lit("mark"), TestStores.metaStr(lit(mark))).as("value"))
        graft.obs.Trace.fixture {
          aiE.setDf("cdc_ai", entryDf((0L until 25L).toSeq, "v1")) }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, String, Long)]
        val src = mem.toDF().select(
          struct(lit("raw_string").as("kind"), col("_2").as("str"),
            lit(null).cast(org.apache.spark.sql.types.BinaryType).as("bin"))
            .as("input"),
          map(lit("doc_id"), TestStores.metaStr(col("_1")),
            lit("mark"), TestStores.metaStr(col("_3"))).as("value"),
          when(col("_4") >= 0, lit("insert")).otherwise(lit("delete")).as("op"),
          abs(col("_4")).as("seq"))
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try graft.streaming.StreamingIngest.ingestAiCdcEntries(
            aiE, "cdc_ai", src, "input", "value", "op", seqCol = Some("seq"))
          finally s.conf.set(
            "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        // seq encoding for the tuple stream: _4 >= 0 → insert@_4, < 0 →
        // delete@|_4| (MemoryStream wants a flat product type)
        def ins(id: Long, mark: String, seq: Long) = (id, docs(id), mark, seq)
        def del(id: Long, seq: Long) = (id, docs(id), "x", -seq)
        try {
          mem.addData((25L until 50L).map(ins(_, "v1", 1L)) ++
            Seq(0L, 1L, 2L, 3L, 4L, 7L).map(del(_, 1L)) ++
            Seq(del(5L, 1L), ins(5L, "v2", 2L)): _*)
          q.processAllAvailable()
          mem.addData(ins(2L, "v2", 1L), del(9L, 1L))
          q.processAllAvailable()
        } finally q.stop()
        val out = aiE.db.storeDf("cdc_ai")
          .select(element_at(col("value"), "doc_id").getField("str")
              .cast("bigint").as("doc_id"),
            element_at(col("value"), "mark").getField("str").as("mark"))
          .orderBy("doc_id")
        val rows = out.collect()
        aiE.dropStore("cdc_ai")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some("""SELECT doc_id,
        |CASE WHEN doc_id IN (2, 5) THEN 'v2' ELSE 'v1' END AS mark
        |FROM documents WHERE doc_id < 50 AND doc_id NOT IN (0,1,3,4,7,9)
        |ORDER BY doc_id""".stripMargin)),

    // Binary (image) metadata end-to-end: image-valued PREDICATES
    // (protos/predicate.proto:20-38) and the hash-keyed stale-entry cleanup
    // on image-store re-ingestion (delByReservedInput). buffalo-l expands
    // each image into 1+(byte_len mod 3) face entries (MockEmbedder
    // contract). Re-ingesting doc_id<10 with a version marker must DELETE
    // every stale expansion first, then insert fresh — so the second set's
    // counts are (sum of expansions, 0), not (0, n) updates.
    "ai_image_meta" -> Q(
      (s, dir) => {
        val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
        aiE.createStore("faces_meta", "buffalo-l", "buffalo-l",
          predicates = Set("tag"), storeOriginal = true)
        def metaImg(c: Column) = struct(lit("image").as("kind"),
          lit(null).cast(StringType).as("str"), c.as("bin"))
        val docs = TestStores.table(s, dir, "documents").where(col("doc_id") < 30)
        def entriesOf(d: DataFrame, withV2: Boolean) = {
          val base = map(
            lit("doc_id"), TestStores.metaStr(col("doc_id")),
            lit("tag"), metaImg(encode(col("lang"), "UTF-8")))
          val value = if (withV2)
            map_concat(base, map(lit("v"), TestStores.metaStr(lit("2"))))
          else base
          d.select(
            struct(lit("image").as("kind"),
              lit(null).cast(StringType).as("str"),
              encode(col("text"), "UTF-8").as("bin")).as("input"),
            value.as("value"))
        }
        // fixture phase (bench split): the initial 30-doc ingest — the
        // exercise is the composite stale-delete RE-ingest + GetPred
        graft.obs.Trace.fixture {
          aiE.setDf("faces_meta", entriesOf(docs, withV2 = false)) }
        val (ins2, upd2) =
          aiE.setDf("faces_meta", entriesOf(docs.where(col("doc_id") < 10), withV2 = true))
        import graft.types.MetadataValue.Image
        val out = aiE.getPred("faces_meta", In("tag", Set(
            Image("en".getBytes("UTF-8")): MetadataValue,
            Image("de".getBytes("UTF-8")): MetadataValue)))
          .groupBy(element_at(col("value"), "doc_id").getField("str")
            .cast("bigint").as("doc_id"))
          .agg(count(lit(1)).as("faces"),
            max(coalesce(element_at(col("value"), "v").getField("str"),
              lit("no"))).as("v2"))
          .withColumn("reingest_ins", lit(ins2))
          .withColumn("reingest_upd", lit(upd2))
          .orderBy("doc_id")
        val rows = out.collect()
        aiE.dropStore("faces_meta")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some("""WITH exp AS (SELECT CAST(SUM(1 + (octet_length(encode(text)) % 3)) AS BIGINT) n
        |  FROM documents WHERE doc_id < 10)
        |SELECT doc_id, CAST(1 + (octet_length(encode(text)) % 3) AS BIGINT) AS faces,
        |CASE WHEN doc_id < 10 THEN '2' ELSE 'no' END AS v2,
        |(SELECT n FROM exp) AS reingest_ins, CAST(0 AS BIGINT) AS reingest_upd
        |FROM documents WHERE lang IN ('en','de') AND doc_id < 30
        |ORDER BY doc_id""".stripMargin)),

    // Audio end-to-end (ahnlich/ai/src/tests/clap_test.rs; fixtures in
    // ai/src/tests/): the CLAP pair — clap-text QUERY model over a
    // clap-audio INDEX model (both 512-d), the reference's text-to-audio
    // search shape. Exercises the Audio() input kind through bulk SET,
    // audio-valued metadata predicates, and the DSL `/aHEX` audio literal
    // in DELKEY, GETKEY, GETSIMN WHERE, and GETPRED — the one modality that
    // previously never executed end-to-end.
    "ai_audio_clap" -> Q(
      (s, dir) => {
        val aiE = new graft.ai.AiEngine(TestStores.freshEngine(s))
        def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
        def hexDoc(id: Long): String =
          hex(TestStores.docText(s, dir, id).getBytes("UTF-8"))
        // store creation through the AI DSL grammar (model-name productions)
        val created = graft.dsl.Pipeline.runAi(aiE,
          "CREATESTORE clap_docs QUERYMODEL clap-text INDEXMODEL clap-audio PREDICATES (wave) STOREORIGINAL")
        require(created.head.isRight, s"create failed: ${created.head}")
        // bulk ingest: documents as AUDIO payloads, with an AUDIO-valued
        // metadata cell (`wave` = source bytes) next to the raw-string doc_id
        def metaAudio(c: Column) = struct(lit("audio").as("kind"),
          lit(null).cast(StringType).as("str"), c.as("bin"))
        val entries = TestStores.table(s, dir, "documents")
          .where(col("doc_id") < 40)
          .select(
            struct(lit("audio").as("kind"), lit(null).cast(StringType).as("str"),
              encode(col("text"), "UTF-8").as("bin")).as("input"),
            map(
              lit("doc_id"), TestStores.metaStr(col("doc_id")),
              lit("wave"), metaAudio(encode(col("source"), "UTF-8"))).as("value"))
        aiE.setDf("clap_docs", entries)
        val script =
          s"""DELKEY ([/a${hexDoc(9)}], [/a${hexDoc(13)}]) IN clap_docs;
             |GETKEY ([/a${hexDoc(5)}]) IN clap_docs;
             |GETSIMN 3 WITH [audio probe query] USING cosinesimilarity IN clap_docs WHERE (wave != /a${hex("src2".getBytes("UTF-8"))});
             |GETPRED (wave = /a${hex("src1".getBytes("UTF-8"))}) IN clap_docs""".stripMargin
        val res = graft.dsl.Pipeline.runAi(aiE, script)
        import graft.dsl.Response
        val deleted = res(0) match {
          case Right(Response.Count(n)) => n; case other => sys.error(s"delkey: $other") }
        val getkeyDoc = res(1) match {
          case Right(Response.Entries(df)) =>
            df.select(element_at(col("value"), "doc_id").getField("str")
              .cast("bigint")).head.getLong(0)
          case other => sys.error(s"getkey: $other") }
        val simnRows = res(2) match {
          case Right(Response.SimEntries(df)) => df.count()
          case other => sys.error(s"getsimn: $other") }
        val out = res(3) match {
          case Right(Response.Entries(df)) =>
            df.select(element_at(col("value"), "doc_id").getField("str")
                .cast("bigint").as("doc_id"))
              .withColumn("deleted", lit(deleted))
              .withColumn("getkey_doc", lit(getkeyDoc))
              .withColumn("simn_rows", lit(simnRows))
              .orderBy("doc_id")
          case other => sys.error(s"getpred: $other") }
        val rows = out.collect()
        aiE.dropStore("clap_docs")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS deleted,
        |CAST(5 AS BIGINT) AS getkey_doc, CAST(3 AS BIGINT) AS simn_rows
        |FROM documents
        |WHERE source = 'src1' AND doc_id < 40 AND doc_id NOT IN (9, 13)
        |ORDER BY doc_id""".stripMargin)),

    // ================= LLM-pipeline operators (north-star extensions) =====
    // Text analysis, dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash),
    // embedding similarity join, multimodal plumbing. All banded/bucketed —
    // no all-pairs anywhere; approximate candidate generation is always
    // followed by exact verification, so outputs are oracle-checkable.

    // ---- text analysis: token counting (whitespace + BPE-ish) ----
    "text_token_stats" -> Q(
      (s, dir) => TestStores.table(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast("bigint").as("ws_tokens"),
        graft.text.TextOps.bpeTokenCount(col("text")).cast("bigint").as("bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- text analysis: language ID (stopword-marker argmax heuristic) ----
    // ---- C4 blocklist filter: hits of a word blocklist, \b-bounded and
    // case-insensitive, one marker-kernel pass. The corpus is clean, so
    // (gopher idiom) hit payloads — including a case-soup one — are
    // injected on BOTH sides; the demo list is innocuous by design ----
    "text_blocklist" -> Q(
      (s, dir) => {
        val bl = Seq("casino", "lottery", "winner", "jackpot", "spamco")
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit(" visit casino jackpot now")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit(" LOTTERY Winner takes all")).otherwise(lit(""))).as("t"))
        aug.select(col("doc_id"),
            graft.text.TextOps.blocklistHits(col("t"), bl).as("hits"))
          .withColumn("blocked", col("hits") > 0)
          .orderBy("doc_id")
      },
      Some(raw"""WITH aug AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 3 = 0 THEN ' visit casino jackpot now' ELSE '' END,
        |    CASE WHEN doc_id % 7 = 0 THEN ' LOTTERY Winner takes all' ELSE '' END) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, len(regexp_extract_all(lower(t),
        |  '\b(casino|lottery|winner|jackpot|spamco)\b'))::BIGINT AS hits FROM aug)
        |SELECT doc_id, hits, hits > 0 AS blocked FROM h ORDER BY doc_id""".stripMargin)),

    "text_lang_id" -> Q(
      (s, dir) => TestStores.table(s, dir, "documents").select(
        col("doc_id"), graft.text.TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some {
        // NOTE: DuckDB string literals don't process backslash escapes, and
        // the marker regexes use \x{..}/\b which parse identically in Java
        // and RE2 — so the pattern strings pass through verbatim
        val scores = graft.text.TextOps.LangMarkers.map { case (l, m) =>
          l -> s"len(regexp_extract_all(lower(text), '$m'))"
        }
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val cases = scores.map { case (l, e) =>
          s"WHEN $e = best AND best > 0 THEN '$l'" }.mkString(" ")
        s"""WITH scored AS (SELECT doc_id, text, $best AS best FROM documents)
           |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    // ---- text analysis: quality scoring ----
    "text_quality" -> Q(
      (s, dir) => TestStores.table(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some {
        val en = graft.text.TextOps.LangMarkers.head._2
        raw"""SELECT doc_id, round((
           |  least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0)
           |  + (1.0 - least(5.0 * CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
           |      / greatest(length(text), 1), 1.0))
           |  + least(5.0 * CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE)
           |      / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 1.0)
           |) / 3.0, 4) AS quality FROM documents ORDER BY doc_id""".stripMargin
      }),

    // ---- text analysis: rolling-hash document fingerprint ----
    "text_fingerprint" -> Q(
      (s, dir) => TestStores.table(s, dir, "documents").select(
        col("doc_id"), graft.text.TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, list_reduce(
        |  list_prepend(CAST(7 AS BIGINT),
        |    list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |  (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- corpus-wide n-gram heavy hitters (boilerplate / contamination
    // profiling): top-20 bigrams by count, gram-ascending on ties. The
    // engine runs the hash-count-first two-pass (8-byte shuffle rows,
    // strings resolved only for the ≥ kth-count set — HeavyHitters
    // scaladoc); the oracle counts strings directly, which is the same
    // result by the pinned exact-arm equivalence ----
    "text_ngram_topk" -> Q(
      (s, dir) => graft.text.HeavyHitters.ngramTopK(
        TestStores.table(s, dir, "documents"), "text", n = 2, k = 20)
        .orderBy("rank"),
      Some(raw"""WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT UNNEST(list_transform(range(1, len(t)),
        |    i -> array_to_string(t[i:i+1], ' '))) AS ngram
        |  FROM toks),
        |cnt AS (SELECT ngram, COUNT(*) AS n FROM grams GROUP BY ngram),
        |ranked AS (
        |  SELECT ngram, n,
        |    row_number() OVER (ORDER BY n DESC, ngram ASC) AS rank
        |  FROM cnt)
        |SELECT ngram, n, CAST(rank AS BIGINT) AS rank FROM ranked
        |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // ---- line-shape signals (the Gopher/C4 line rules gopherFlags
    // omits): the single-line corpus gets deterministic multi-line
    // payloads on BOTH sides (the repetition-suite idiom) — bullet runs
    // (%6), ellipsis enders (%7), a terminal-punct closer (%5) ----
    "text_line_signals" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(6)) === 0,
              lit("\n- bullet one\n* bullet two")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit("\nto be continued...\ntrails off…")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\nA closing sentence.")).otherwise(lit(""))).as("t"))
        aug.select(col("doc_id"),
            graft.text.TextOps.lineSignals(col("t")).as("ls"))
          .select(col("doc_id"), col("ls.n_lines").as("n_lines"),
            col("ls.frac_bullet").as("frac_bullet"),
            col("ls.frac_ellipsis_end").as("frac_ellipsis_end"),
            col("ls.frac_terminal").as("frac_terminal"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 6 = 0
        |      THEN chr(10) || '- bullet one' || chr(10) || '* bullet two'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN chr(10) || 'to be continued...' || chr(10) || 'trails off…'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN chr(10) || 'A closing sentence.' ELSE '' END AS t
        |  FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  round(CAST(len(list_filter(ls, x ->
        |    regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(ls), 4) AS frac_bullet,
        |  round(CAST(len(list_filter(ls, x ->
        |    regexp_matches(rtrim(x), '(\.\.\.|…)$$'))) AS DOUBLE) / len(ls), 4) AS frac_ellipsis_end,
        |  round(CAST(len(list_filter(ls, x ->
        |    regexp_matches(rtrim(x), '[.!?"]$$'))) AS DOUBLE) / len(ls), 4) AS frac_terminal
        |FROM l ORDER BY doc_id""".stripMargin)),

    // ---- text analysis: intra-doc repetition ratio (Gopher-style
    // boilerplate rule) — shuffle-free per-row projection ----
    "text_repetition" -> Q(
      (s, dir) => TestStores.table(s, dir, "documents").select(
        col("doc_id"),
        graft.text.TextOps.repetitionRatio(col("text"), 3).as("rep3"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) AS gs
        |  FROM toks)
        |SELECT doc_id, round(CASE WHEN len(gs) <= 0 THEN 0.0
        |  ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) END, 4) AS rep3
        |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- Gopher repetition suite: the 13 repetitious-text signals of
    // Rae et al. 2021 §A1.1 in one kernel pass per doc. The synthetic
    // corpus is single-line and repetition-light, so (gopher idiom)
    // deterministic payloads are injected on BOTH sides: duplicate
    // lines (%3), a spam token run that drives top-gram and dup-5..10
    // coverage (%4), and duplicate blank-line paragraphs (%5) ----
    "text_repetition_suite" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit("\nrepeat line q\nrepeat line q")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit(" spam spam spam spam spam spam spam")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\n\nsame para\n\nsame para")).otherwise(lit(""))).as("t"))
        aug.select(col("doc_id"),
            graft.text.TextOps.repetitionSignals(col("t")).as("r"))
          .select(col("doc_id"), col("r.*"))
          .orderBy("doc_id")
      },
      Some(repSuiteOracle(
        """SELECT doc_id, concat(text,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN chr(10)||'repeat line q'||chr(10)||'repeat line q' ELSE '' END,
          |    CASE WHEN doc_id % 4 = 0
          |      THEN ' spam spam spam spam spam spam spam' ELSE '' END,
          |    CASE WHEN doc_id % 5 = 0
          |      THEN chr(10)||chr(10)||'same para'||chr(10)||chr(10)||'same para'
          |      ELSE '' END) AS t
          |  FROM documents""".stripMargin))),

    // ---- BM25 lexical retrieval: literal query set over the corpus
    // vocabulary, top-5 per query. Rank is computed ON the 4-place-rounded
    // score (ties by doc id) in BOTH engines, so float summation order
    // can never flip the cutoff ----
    "text_bm25" -> Q(
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          (1L, "fast table scan merge join"),
          (2L, "spark stream window batch dup"),
          (3L, "vector hash order sort key")).toDF("qid", "qtext")
        graft.text.Bm25.bm25TopK(
          TestStores.table(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", queries, "qid", "qtext", k = 5)
          .orderBy("qid", "rank")
      },
      Some("""WITH q(qid, qtext) AS (VALUES
        |  (1, 'fast table scan merge join'),
        |  (2, 'spark stream window batch dup'),
        |  (3, 'vector hash order sort key')),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |dt AS (
        |  SELECT doc_id AS did, len(tk) AS dl, tok, count(*) AS tf
        |  FROM toks, UNNEST(tk) AS u(tok) GROUP BY doc_id, len(tk), tok),
        |dfs AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
        |stats AS (SELECT count(*) AS N, avg(len(tk)) AS avgdl FROM toks),
        |qt AS (SELECT DISTINCT qid, tok
        |  FROM q, UNNEST(string_split_regex(trim(qtext), '\s+')) AS u(tok)),
        |scored AS (
        |  SELECT qt.qid, dt.did,
        |    round(sum(ln(1 + (s.N - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |      dt.tf * 2.2 / (dt.tf + 1.2 * (0.25 + 0.75 * dt.dl / s.avgdl))), 4)
        |      AS score
        |  FROM qt JOIN dt USING (tok) JOIN dfs USING (tok) CROSS JOIN stats s
        |  GROUP BY qt.qid, dt.did)
        |SELECT CAST(qid AS BIGINT) AS qid, did, score,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, did ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- cross-domain perplexity (the actual CCNet shape): train the
    // bigram LM on the English subcorpus only, score EVERY doc against
    // it — unseen bigrams/contexts coalesce to count 0 and add-1 prices
    // them at 1/(c1+V), so non-English docs surface with high ppl ----
    "text_perplexity_xlang" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        val model = graft.text.LangModel.train(
          docs.where(col("lang") === "en"), "doc_id", "text")
        graft.text.LangModel.score(model, docs.select("doc_id", "text"),
          "doc_id", "text").orderBy("doc_id")
      },
      Some(xlangPplOracle)),

    // ---- CCNet head/middle/tail bucketing (Wenzek 2020 §4.3): cutoffs
    // come from the deterministic md5 sample of the SCORED corpus (the
    // bounded global sort — the corpus itself is never sorted), NTILE(3)
    // on (ppl, doc_id), broadcast CASE assignment. Oracle replays the
    // sample + tiles + cutoffs on the shared perplexity CTE chain. ----
    "text_ppl_buckets" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        val model = graft.text.LangModel.train(
          docs.where(col("lang") === "en"), "doc_id", "text")
        val scored = graft.text.LangModel.score(
          model, docs.select("doc_id", "text"), "doc_id", "text")
        graft.text.LangModel.pplBuckets(scored, "doc_id", "ppl", 0.2)
          .orderBy("doc_id")
      },
      Some(pplScoredCtes + """,
        |samp AS (
        |  SELECT doc_id, ppl FROM scored
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20),
        |tiles AS (
        |  SELECT doc_id, ppl, ntile(3) OVER (ORDER BY ppl, doc_id) AS t FROM samp),
        |cuts AS (
        |  SELECT max(CASE WHEN t = 1 THEN ppl END) AS t1,
        |         max(CASE WHEN t = 2 THEN ppl END) AS t2 FROM tiles)
        |SELECT s.doc_id, s.ppl,
        |  CASE WHEN s.ppl <= c.t1 THEN 'head'
        |       WHEN s.ppl <= coalesce(c.t2, c.t1) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s CROSS JOIN cuts c ORDER BY s.doc_id""".stripMargin)),

    // ---- DSIR importance weights: hashed unigram+bigram log-likelihood
    // ratio of every doc under the English subcorpus (target) vs the full
    // corpus (raw) — md5-prefix feature buckets so the hashed feature
    // space itself is engine-reproducible ----
    "text_dsir" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        graft.text.Dsir.importanceWeights(
          docs.select("doc_id", "text"),
          docs.where(col("lang") === "en").select("doc_id", "text"),
          "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH rtoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |rfeat AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 10007 AS b
        |  FROM (
        |    SELECT doc_id, unnest(tk) AS f FROM rtoks
        |    UNION ALL
        |    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
        |    FROM rtoks, UNNEST(range(1, len(tk))) AS r(i) WHERE len(tk) >= 2)),
        |ttoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE lang = 'en'),
        |tfeat AS (
        |  SELECT CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 10007 AS b
        |  FROM (
        |    SELECT unnest(tk) AS f FROM ttoks
        |    UNION ALL
        |    SELECT tk[i] || ' ' || tk[i+1] AS f
        |    FROM ttoks, UNNEST(range(1, len(tk))) AS r(i) WHERE len(tk) >= 2)),
        |tc AS (SELECT b, count(*) AS ct FROM tfeat GROUP BY b),
        |rc AS (SELECT b, count(*) AS cr FROM rfeat GROUP BY b),
        |nt AS (SELECT sum(ct) AS nt FROM tc),
        |nr AS (SELECT sum(cr) AS nr FROM rc),
        |s AS (
        |  SELECT rfeat.doc_id,
        |    ln((coalesce(tc.ct, 0) + 1.0) / (nt.nt + 10007.0)) -
        |    ln((rc.cr + 1.0) / (nr.nr + 10007.0)) AS s
        |  FROM rfeat LEFT JOIN tc USING (b) JOIN rc USING (b)
        |    CROSS JOIN nt CROSS JOIN nr)
        |SELECT doc_id, round(sum(s), 4) AS dsir
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- classifier-based filtering (GPT-3 §A / fastText-style): hashed
    // n-gram Naive Bayes trained on the even-doc_id half labeled by lang,
    // predicting over the WHOLE corpus (odd ids are unseen text). Model
    // tables are class/bucket-bounded and broadcast; the corpus shuffles
    // once, on the doc id. Argmax ranks on the 6-place-rounded score
    // (ties by label) so FP sum order can't pick the winner. ----
    "text_classify" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        val model = graft.text.Classify.trainNaiveBayes(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", "lang")
        graft.text.Classify.predict(model, docs.select("doc_id", "text"),
          "doc_id", "text").orderBy("doc_id")
      },
      Some(raw"""WITH ttoks AS (
        |  SELECT doc_id, lang AS label,
        |    string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id % 2 = 0),
        |tfeat AS (
        |  SELECT doc_id, label,
        |    CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 10007 AS b
        |  FROM (
        |    SELECT doc_id, label, unnest(tk) AS f FROM ttoks
        |    UNION ALL
        |    SELECT doc_id, label, tk[i] || ' ' || tk[i+1] AS f
        |    FROM ttoks, UNNEST(range(1, len(tk))) AS r(i) WHERE len(tk) >= 2)),
        |bc AS (SELECT label, b, count(*) AS c FROM tfeat GROUP BY 1, 2),
        |ct AS (SELECT label, count(*) AS nf,
        |         count(DISTINCT doc_id) AS ndoc FROM tfeat GROUP BY 1),
        |ntot AS (SELECT sum(ndoc) AS ntot FROM ct),
        |rtoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |rfeat AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 10007 AS b
        |  FROM (
        |    SELECT doc_id, unnest(tk) AS f FROM rtoks
        |    UNION ALL
        |    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
        |    FROM rtoks, UNNEST(range(1, len(tk))) AS r(i) WHERE len(tk) >= 2)),
        |sc AS (
        |  SELECT rfeat.doc_id, ct.label,
        |    ln(ct.ndoc * 1.0 / ntot.ntot)
        |      + sum(ln(coalesce(bc.c, 0) + 1.0))
        |      - count(*) * ln(ct.nf + 10007.0) AS score
        |  FROM rfeat CROSS JOIN ct CROSS JOIN ntot
        |    LEFT JOIN bc ON bc.b = rfeat.b AND bc.label = ct.label
        |  GROUP BY rfeat.doc_id, ct.label, ct.ndoc, ct.nf, ntot.ntot),
        |rk AS (
        |  SELECT doc_id, label, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(score, 6) DESC, label ASC) AS rk,
        |    lead(score) OVER (PARTITION BY doc_id
        |      ORDER BY round(score, 6) DESC, label ASC) AS second
        |  FROM sc)
        |SELECT doc_id, label AS pred, round(score, 4) AS score,
        |  round(score - second, 4) AS margin
        |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ---- hybrid retrieval: query-by-document over BOTH surfaces —
    // BM25 top-10 on the text, cosine top-10 on the aligned embedding
    // (vec_id = doc_id by construction) — fused by reciprocal-rank.
    // Fusion ranks on the 6-place-rounded rrf (ties by doc id), so the
    // cutoff is engine-reproducible ----
    "hybrid_retrieval" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
          .select("doc_id", "text")
        val emb = TestStores.table(s, dir, "embeddings")
        val qids = Seq(0L, 7L, 13L)
        val tq = docs.where(col("doc_id").isin(qids: _*))
          .select(col("doc_id").as("qid"), col("text").as("qtext"))
        val bm = graft.text.Bm25.bm25TopK(
          docs, "doc_id", "text", tq, "qid", "qtext", 10)
        val vs = graft.dedup.Dedup.topKJoin(
          emb.where(col("vec_id").isin(qids: _*)), emb,
          "vec_id", "embedding", "vec_id", "embedding", 10)
          .select(col("qid"), col("cid").as("did"), col("rank"))
        graft.text.Hybrid.rrfFuse(
          bm.select("qid", "did", "rank"), vs, k = 5)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id AS qid, text AS qtext FROM documents
        |  WHERE doc_id IN (0, 7, 13)),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
        |  FROM documents),
        |dt AS (
        |  SELECT doc_id AS did, len(tk) AS dl, tok, count(*) AS tf
        |  FROM toks, UNNEST(tk) AS u(tok) GROUP BY doc_id, len(tk), tok),
        |dfs AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
        |stats AS (SELECT count(*) AS N, avg(len(tk)) AS avgdl FROM toks),
        |qt AS (SELECT DISTINCT qid, tok
        |  FROM q, UNNEST(string_split_regex(trim(qtext), '\\s+')) AS u(tok)),
        |bmscored AS (
        |  SELECT qt.qid, dt.did,
        |    round(sum(ln(1 + (s.N - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |      dt.tf * 2.2 / (dt.tf + 1.2 * (0.25 + 0.75 * dt.dl / s.avgdl))), 4)
        |      AS score
        |  FROM qt JOIN dt USING (tok) JOIN dfs USING (tok) CROSS JOIN stats s
        |  GROUP BY qt.qid, dt.did),
        |bm AS (
        |  SELECT qid, did, rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, did ASC) AS rank
        |    FROM bmscored) WHERE rank <= 10),
        |vs AS (
        |  SELECT qid, did, rank FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS did,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
        |          c.vec_id ASC) AS rank
        |    FROM embeddings q, embeddings c WHERE q.vec_id IN (0, 7, 13))
        |  WHERE rank <= 10),
        |fused AS (
        |  SELECT coalesce(bm.qid, vs.qid) AS qid,
        |    coalesce(bm.did, vs.did) AS did,
        |    round(coalesce(1.0/(60 + bm.rank), 0) +
        |      coalesce(1.0/(60 + vs.rank), 0), 6) AS rrf
        |  FROM bm FULL OUTER JOIN vs ON bm.qid = vs.qid AND bm.did = vs.did)
        |SELECT qid, did, rrf, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, did ASC) AS rank
        |  FROM fused)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- the same cross-domain scoring as a STREAM: documents replayed
    // through a MemoryStream in two halves, scored per micro-batch against
    // the batch-trained EN model (stream-static enrichment, zero streaming
    // state — a doc is one row, so batching can't change its score). The
    // oracle is text_perplexity_xlang's SQL verbatim ----
    "docs_ppl_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = TestStores.table(s, dir, "documents")
        val model = graft.text.LangModel.train(
          docs.where(col("lang") === "en"), "doc_id", "text")
        val rows = docs.select(col("doc_id").cast("long"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val src = mem.toDF()
          .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text")
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try graft.streaming.StreamingIngest.scoreStreamPerplexity(
          src, model, "doc_id", "text") { scored =>
            val batch = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
            buf.synchronized { buf ++= batch; () }
          }
        finally s.conf.set(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        try {
          val (a, b) = rows.splitAt(rows.size / 2)
          mem.addData(a: _*); q.processAllAvailable()
          mem.addData(b: _*); q.processAllAvailable()
        } finally { q.stop(); model.unpersist() }
        buf.toSeq.toDF("doc_id", "ppl").orderBy("doc_id")
      },
      Some(xlangPplOracle)),

    // ---- text canonicalization (pre-dedup): NFC + lower + whitespace
    // collapse + trim. Deterministic unicode payloads are injected on both
    // sides (the PII/gopher idiom) so case folding and run collapsing
    // fire — and the two sides DELIBERATELY inject different encodings of
    // the same accents (Spark: composed é/Ï; DuckDB: e+chr(769),
    // I+chr(776)), so the hash-match itself proves NFC converges
    // cross-encoding inputs to identical canonical bytes. ----
    "text_canonicalize" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit(" Café   NAÏVE Mix")).otherwise(lit(""))).as("t"))
        aug.select(col("doc_id"),
            graft.text.TextOps.canonicalize(col("t")).as("canon"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH aug AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' Cafe' || chr(769) || '   NAI' || chr(776) || 'VE Mix'
        |      ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(t)), '\s+', ' ', 'g')) AS canon
        |FROM aug ORDER BY doc_id""".stripMargin)),

    // ---- HTML → text extraction (C4-style ingest): the corpus is plain
    // text, so (PII-query idiom) each doc is wrapped into a deterministic
    // HTML page on BOTH sides — comments, attributed script/STYLE blocks,
    // entities incl. the double-encoded &amp;lt; single-pass case — and
    // the hash-match proves the whole strip chain (block drop, tag strip,
    // entity decode order, collapse) is engine-portable. ----
    "text_html_extract" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(
            lit("<html><!-- id "), col("doc_id"),
            lit(" --><head><STYLE type=\"text/css\">p{x:1}</STYLE>" +
              "<script src=\"a.js\">var x=1;</script></head>" +
              "<body><h1>T&amp;Cs &amp;lt;ok&gt;</h1><p class=\"b\">"),
            col("text"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit("</p><noscript>no js</noscript>" +
                "<p>&lt;tail&gt;&nbsp;&#39;q&apos;")).otherwise(lit("")),
            lit("</p> </body></html>")).as("html"))
        aug.select(col("doc_id"),
            graft.text.Html.extractText(col("html")).as("clean"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH aug AS (
        |  SELECT doc_id, '<html><!-- id ' || doc_id ||
        |    ' --><head><STYLE type="text/css">p{x:1}</STYLE>' ||
        |    '<script src="a.js">var x=1;</script></head>' ||
        |    '<body><h1>T&amp;Cs &amp;lt;ok&gt;</h1><p class="b">' || text ||
        |    CASE WHEN doc_id % 4 = 0 THEN '</p><noscript>no js</noscript>' ||
        |      '<p>&lt;tail&gt;&nbsp;&#39;q&apos;' ELSE '' END ||
        |    '</p> </body></html>' AS html FROM documents),
        |c1 AS (SELECT doc_id,
        |  regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM aug),
        |c2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(t,
        |    '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |    '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |    '(?is)<noscript\b[^>]*>.*?</noscript\s*>', ' ', 'g'),
        |    '(?is)<template\b[^>]*>.*?</template\s*>', ' ', 'g') AS t FROM c1),
        |c3 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM c2),
        |c4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(
        |  replace(t, '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
        |  '&apos;',''''),'&nbsp;',' '),'&amp;','&') AS t FROM c3)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
        |FROM c4 ORDER BY doc_id""".stripMargin)),

    // ---- Gopher quality-rule bundle: the published boolean filters, one
    // flag each + the conjunction. The synthetic corpus is stopword-poor
    // and symbol-free, so (PII-query idiom) deterministic payloads are
    // injected on BOTH sides to make every rule split the corpus ----
    "text_gopher" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(" of and that"))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0, lit(" #" * 14))
              .otherwise(lit(""))).as("t"))
        aug.select(col("doc_id"),
            graft.text.TextOps.gopherFlags(col("t")).as("g"))
          .select(col("doc_id"), col("g.*"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 3 = 0 THEN ' of and that' ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 THEN repeat(' #', 14) ELSE '' END) AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, t, string_split_regex(trim(t), '\s+') AS tk FROM aug),
        |lowered AS (SELECT *, list_transform(tk, x -> lower(x)) AS lw FROM toks),
        |f AS (
        |  SELECT doc_id,
        |    len(tk) BETWEEN 50 AND 100000 AS ok_words,
        |    (CAST(len(regexp_replace(trim(t), '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(tk), 1)) BETWEEN 3.0 AND 10.0 AS ok_mean_len,
        |    CAST(len(list_filter(tk, x -> contains(x, '#')
        |      OR contains(x, '...'))) AS DOUBLE)
        |      / greatest(len(tk), 1) <= 0.1 AS ok_symbol,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(tk), 1) >= 0.8 AS ok_alpha,
        |    (CAST(list_contains(lw, 'the') AS INT)
        |     + CAST(list_contains(lw, 'be') AS INT)
        |     + CAST(list_contains(lw, 'to') AS INT)
        |     + CAST(list_contains(lw, 'of') AS INT)
        |     + CAST(list_contains(lw, 'and') AS INT)
        |     + CAST(list_contains(lw, 'that') AS INT)
        |     + CAST(list_contains(lw, 'have') AS INT)
        |     + CAST(list_contains(lw, 'with') AS INT)) >= 2 AS ok_stop
        |  FROM lowered)
        |SELECT doc_id, ok_words, ok_mean_len, ok_symbol, ok_alpha, ok_stop,
        |  ok_words AND ok_mean_len AND ok_symbol AND ok_alpha AND ok_stop AS pass
        |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- CCNet-style perplexity filter: add-1-smoothed bigram model
    // trained on the corpus itself, every doc scored by exp(mean -ln P).
    // Engine groups/joins on 64-bit token hashes; the oracle recomputes
    // the identical model on raw token strings (collision-free here) ----
    "text_perplexity" -> Q(
      (s, dir) => graft.text.LangModel.bigramPerplexity(
        TestStores.table(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text").orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        |  FROM toks, UNNEST(range(1, len(tk))) AS r(i)
        |  WHERE len(tk) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |uc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT count(DISTINCT tok) AS V
        |  FROM (SELECT unnest(tk) AS tok FROM toks)),
        |nll AS (
        |  SELECT bg.doc_id, -ln((bc.c2 + 1.0) / (uc.c1 + 1.0 * v.V)) AS nll
        |  FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v)
        |SELECT doc_id, round(exp(avg(nll)), 4) AS ppl
        |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- text analysis: PII redaction + per-kind audit counts. The corpus
    // carries no natural PII, so the query injects a deterministic, doc_id-
    // varying payload (0-3 emails, one IP, one phone) on BOTH sides and
    // redacts it — the oracle recompiles the exact same RE2∩Java patterns
    // in DuckDB. Pure per-row regexp projection: scan-speed at any scale ----
    "text_pii_redact" -> Q(
      (s, dir) => {
        val injected = expr("concat(text, ' ', " +
          "repeat(concat('u', CAST(doc_id % 7 AS STRING), '@ex', " +
          "  CAST(doc_id % 5 AS STRING), '.org '), CAST(doc_id % 4 AS INT)), " +
          "'ip 10.', CAST(doc_id % 200 AS STRING), '.0.1 tel 555-', " +
          "lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-0199')")
        // counts array aliased once, fields extracted in a follow-up
        // projection: one PiiMatchCounts scan per row (see piiCountsArray)
        TestStores.table(s, dir, "documents").select(
          col("doc_id"),
          graft.text.Pii.redactAll(injected).as("redacted"),
          graft.text.Pii.piiCountsArray(injected).as("_pc"))
          .select(col("doc_id"), col("redacted"),
            element_at(col("_pc"), 1).as("n_email"),
            element_at(col("_pc"), 2).as("n_ip"),
            element_at(col("_pc"), 3).as("n_phone"))
          .orderBy("doc_id")
      },
      Some {
        // the pattern CONSTANTS feed both engines (DuckDB string literals
        // don't process backslash escapes, so they pass through verbatim —
        // same note as text_lang_id's markers)
        val (em, ip, ph) =
          (graft.text.Pii.EmailPattern, graft.text.Pii.Ipv4Pattern,
            graft.text.Pii.PhonePattern)
        s"""WITH inj AS (SELECT doc_id, concat(text, ' ',
           |  repeat(concat('u', CAST(doc_id % 7 AS VARCHAR), '@ex',
           |    CAST(doc_id % 5 AS VARCHAR), '.org '), CAST(doc_id % 4 AS INT)),
           |  'ip 10.', CAST(doc_id % 200 AS VARCHAR), '.0.1 tel 555-',
           |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-0199') AS t
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$em', '<EMAIL>', 'g'),
           |    '$ip', '<IP>', 'g'),
           |    '$ph', '<PHONE>', 'g') AS redacted,
           |  CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
           |  CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phone
           |FROM inj ORDER BY doc_id""".stripMargin
      }),

    // ---- token-budget corpus selection: keep the best-quality docs until
    // the token budget is hit. NO global sort (the 100 TB anti-pattern):
    // bounded per-score aggregation + driver prefix-sum + per-score-group
    // window place every doc at its global running total; the oracle IS
    // the global-sort window the operator refuses to plan. Quality ships
    // as ×10⁴ BIGINT (quality_e4) — the pipeline_datacard hash-robustness
    // rule: a 4dp-rounded double is hostage to each engine's last-ulp
    // canonicalization; the integer is not. ----
    "pipeline_budget_select" -> Q(
      (s, dir) => {
        val d = TestStores.table(s, dir, "documents")
        val scored = d.select(col("doc_id"),
          round(graft.text.TextOps.qualityScore(col("text")) * 10000, 0)
            .cast("long").as("quality_e4"),
          graft.text.TextOps.tokenCount(col("text")).cast("long").as("toks"))
        graft.pipeline.Corpus.selectByTokenBudget(
          scored, "doc_id", "quality_e4", "toks", budget = 10000L)
          .orderBy("doc_id")
      },
      Some {
        val en = graft.text.TextOps.LangMarkers.head._2
        raw"""WITH scored AS (SELECT doc_id, CAST(round(round((
           |  least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0)
           |  + (1.0 - least(5.0 * CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
           |      / greatest(length(text), 1), 1.0))
           |  + least(5.0 * CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE)
           |      / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 1.0)
           |) / 3.0, 4) * 10000, 0) AS BIGINT) AS quality_e4,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
           |  FROM documents),
           |c AS (SELECT doc_id, quality_e4, toks,
           |  CAST(sum(toks) OVER (ORDER BY quality_e4 DESC, doc_id ASC
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks FROM scored)
           |SELECT doc_id, quality_e4, toks, cum_toks FROM c
           |WHERE cum_toks <= 10000 ORDER BY doc_id""".stripMargin
      }),

    // ---- deterministic train/val/test split: id-keyed md5 bucketing —
    // engine-reproducible, shuffle-free, stable under corpus growth ----
    "pipeline_split" -> Q(
      (s, dir) => graft.pipeline.Corpus.assignSplit(
        TestStores.table(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents) ORDER BY doc_id""".stripMargin)),

    // ---- LEAKAGE-SAFE split: whole near-dup clusters (exact 3-gram
    // Jaccard >= 0.8 pair graph) land on one side of the train/val/test
    // boundary — the eval-contamination guard; singletons split exactly
    // like pipeline_split. Oracle recomputes the pair graph + a
    // recursive-CTE connected components + the same md5 bucket of the
    // component representative. ----
    "pipeline_split_safe" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        // capped candidate generation (the sf1-proven 25× arm —
        // dedup_jaccard_capped's config): pair set is identical to
        // uncapped at J >= 0.8 (DedupSpec pins it; verification runs over
        // FULL sets), so the oracle below stays the exact graph
        val pairs = graft.dedup.Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.8,
          maxShingleDf = Some(10))
        graft.pipeline.Corpus.leakageSafeSplit(
          docs.select("doc_id"), "doc_id", pairs, "a", "b")
          .orderBy("doc_id")
      },
      Some(raw"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, g FROM toks,
        |  UNNEST(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM shingles GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM shingles a
        |  JOIN shingles b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |prs AS (
        |  SELECT ia a, ib b FROM inter
        |  JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |edges AS (SELECT a u, b v FROM prs UNION SELECT b, a FROM prs),
        |reach AS (
        |  SELECT u AS node, u AS label FROM edges
        |  UNION
        |  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
        |rep AS (SELECT node, MIN(label) AS rp FROM reach GROUP BY node),
        |based AS (
        |  SELECT d.doc_id, COALESCE(rep.rp, d.doc_id) AS rp
        |  FROM documents d LEFT JOIN rep ON rep.node = d.doc_id),
        |bk AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(rp AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM based)
        |SELECT doc_id,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin)),

    // ---- deterministic ~20% sample by the same md5 id-bucketing ----
    // ---- cluster-balanced sampling: the same seeded assignment as
    // embed_cluster_assign, then the 5 smallest-md5(id) rows per cluster
    // (the library-wide deterministic-hash sample order) — no mode of the
    // embedding space dominates the selected set ----
    "pipeline_cluster_sample" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val cents = graft.pipeline.Cluster.seedCentroids(e, "id", "key", 8)
        val assigned = graft.pipeline.Cluster.assign(e, "key", cents)
        graft.pipeline.Cluster.balancedSample(assigned, "cluster", "id", 5)
          .select(col("id").as("vec_id"), col("cluster"))
          .orderBy("cluster", "vec_id")
      },
      Some(s"""WITH cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |    embedding AS ce
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        |d AS (
        |  SELECT e.vec_id, c.c,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${sqEuclidSql("e.embedding", "c.ce")} ASC, c.c ASC) AS rn
        |  FROM embeddings e CROSS JOIN cent c),
        |a AS (SELECT vec_id, c AS cluster FROM d WHERE rn = 1),
        |picked AS (
        |  SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rs
        |  FROM a)
        |SELECT vec_id, cluster FROM picked WHERE rs <= 5
        |ORDER BY cluster, vec_id""".stripMargin)),

    "pipeline_sample" -> Q(
      (s, dir) => graft.pipeline.Corpus.deterministicSample(
        TestStores.table(s, dir, "documents").select("doc_id"), "doc_id", 0.2)
        .orderBy("doc_id"),
      Some("""SELECT doc_id FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents) WHERE b < 20 ORDER BY doc_id""".stripMargin)),

    // ---- temperature-flattened mixing (α = 0.5 square-root flatten at a
    // 40% target): keep probabilities ∝ n_g^(α−1) from driver-side group
    // counts, folded in group-name order with sqrt (correctly rounded,
    // unlike pow) so the oracle replays the arithmetic bit-for-bit via an
    // ordered list_reduce; sampling = the shared md5 bucketing. ----
    "pipeline_temperature_mix" -> Q(
      (s, dir) => graft.pipeline.Corpus.temperatureMix(
        TestStores.table(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", targetFraction = 0.4)
        .orderBy("doc_id"),
      Some("""WITH n AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS N FROM n),
        |s AS (SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source),
        |  (a, b) -> a + b) AS S FROM n),
        |p AS (
        |  SELECT source,
        |    round(least(1.0, 0.4 * tot.N * sqrt(CAST(n.n AS DOUBLE))
        |      / (s.S * CAST(n.n AS DOUBLE))), 4) AS p
        |  FROM n, tot, s)
        |SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |  < round(p.p * 100)
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- corpus down-mixing: per-source deterministic sampling. Weights
    // follow a formula of the source suffix (srcN keeps (N mod 5)·25%), so
    // the oracle derives the same thresholds arithmetically while the
    // Spark side exercises the general explicit-map API ----
    "pipeline_weighted_sample" -> Q(
      (s, dir) => graft.pipeline.Corpus.weightedSample(
        TestStores.table(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        (0 until 20).map(i => s"src$i" -> (i % 5) * 0.25).toMap)
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents)
        |WHERE b < (CAST(substr(source, 4) AS INT) % 5) * 25
        |ORDER BY doc_id""".stripMargin)),

    // ---- deterministic epoch shuffle: (id, epoch) → (shard, pos), the
    // training-run ordering op. One shuffle on shard + a per-shard window;
    // md5-salted hash order is engine-reproducible, ties break by id ----
    "pipeline_epoch_shuffle" -> Q(
      (s, dir) => graft.pipeline.Corpus.epochShuffle(
        TestStores.table(s, dir, "documents").select("doc_id"),
        "doc_id", epoch = 3, shards = 8)
        .orderBy("shard", "pos"),
      Some("""SELECT doc_id, shard, CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id, h, h % 8 AS shard FROM (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':3')), 1, 8)) AS BIGINT) AS h
        |  FROM documents))
        |ORDER BY shard, pos""".stripMargin)),

    // ---- materialized shard sink: epoch-shuffled order written as one
    // parquet file per shard, manifest READ BACK from the written files
    // (round-trip proof). Oracle recomputes the per-shard doc counts and
    // char volumes from the md5-salted assignment directly ----
    "pipeline_write_shards" -> Q(
      (s, dir) => {
        // stable per-sfDir sink overwritten in place (mode("overwrite")):
        // a fresh createTempDirectory per invocation leaked a corpus-sized
        // directory every bench run / verify sweep
        val out = TestStores.artifactDir("shards-sink", dir)
        graft.pipeline.Corpus.writeShards(
          TestStores.table(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", out, epoch = 3, shards = 8)
          .orderBy("shard")
      },
      Some("""SELECT h % 8 AS shard, count(*) AS n_docs,
        |  count(*) AS max_pos, sum(len(text))::BIGINT AS n_chars
        |FROM (SELECT text,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':3')), 1, 8)) AS BIGINT) AS h
        |  FROM documents)
        |GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- hive-partitioned lake sink: corpus written partitionBy(lang)
    // after ONE (slice, salt) shuffle; manifest read back from the files.
    // n_files is engine-specific (pinned in CorpusSpec), so the oracle
    // compares the slice populations the layout must preserve. ----
    "pipeline_write_partitioned" -> Q(
      (s, dir) => {
        // stable per-sfDir sink overwritten in place — same no-leak rule
        // as pipeline_write_shards above
        val out = TestStores.artifactDir("lake-sink", dir)
        graft.pipeline.Corpus.writePartitioned(
          TestStores.table(s, dir, "documents").select("doc_id", "text", "lang"),
          "doc_id", "text", "lang", out, filesPerSlice = 2)
          .select(col("lang"), col("n_docs"), col("n_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs, sum(len(text))::BIGINT AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- per-group document cap (C4/RefinedWeb max-pages-per-domain):
    // deterministic md5-rank keep, one shuffle on the group, bounded
    // per-group window ----
    "pipeline_group_cap" -> Q(
      (s, dir) => graft.pipeline.Corpus.capPerGroup(
        TestStores.table(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", maxPerGroup = 10)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin)),

    // ---- corpus vocabulary (wordcount + doc frequency): one shuffle on
    // token, map-side partial agg — the substrate for stopword lists and
    // every frequency-based filter ----
    // ---- URL hygiene (UrlOps): documents get deterministic messy URLs
    // (mixed-case schemes/hosts, default and explicit ports, tracking
    // params in every position, fragments, scheme-less junk rows), and
    // the query emits the canonical form plus the host/registrable-domain
    // grouping keys — the C4/RefinedWeb pre-dedup rewrite. The oracle
    // mirrors the augmentation AND every rewrite rule function-for-
    // function in DuckDB. ----
    "pipeline_url_canon" -> Q(
      (s, dir) => {
        val d = TestStores.table(s, dir, "documents")
        val id = col("doc_id")
        val u = when(pmod(id, lit(11)) === 0,
          concat(lit("  relative/path/"), id, lit("  ")))
          .otherwise(concat(
            element_at(array(lit("HTTP"), lit("https"), lit("hTTp"),
              lit("HTTPS")), (pmod(id, lit(4)) + 1).cast("int")),
            lit("://"),
            element_at(array(lit("WWW.Example.COM:80"),
              lit("cdn.Example.com:443"), lit("Sub.Site.Example.NET:8080"),
              lit("example.org"), lit("localhost")),
              (pmod(id, lit(5)) + 1).cast("int")),
            when(pmod(id, lit(3)) === 0, lit(""))
              .otherwise(concat(lit("/p/"), col("source"), lit("/"), id)),
            when(pmod(id, lit(3)) === 0,
              concat(lit("?utm_source=a&id="), id, lit("&utm_campaign=b")))
              .when(pmod(id, lit(3)) === 1,
                concat(lit("?id="), id, lit("&fbclid=xyz")))
              .otherwise(lit("?utm_content=z")),
            when(pmod(id, lit(2)) === 0, lit("#Frag")).otherwise(lit(""))))
        d.select(id, u.as("u"))
          .select(id,
            graft.text.UrlOps.canonicalizeUrl(col("u")).as("url_canon"),
            graft.text.UrlOps.urlHost(col("u")).as("host"),
            graft.text.UrlOps.registrableDomain(col("u")).as("rdomain"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH u0 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN '  relative/path/' || doc_id || '  '
        |    ELSE (['HTTP','https','hTTp','HTTPS'])[(doc_id % 4) + 1] || '://' ||
        |      (['WWW.Example.COM:80','cdn.Example.com:443',
        |        'Sub.Site.Example.NET:8080','example.org','localhost'])[(doc_id % 5) + 1] ||
        |      (CASE WHEN doc_id % 3 = 0 THEN ''
        |            ELSE '/p/' || source || '/' || doc_id END) ||
        |      (CASE doc_id % 3
        |        WHEN 0 THEN '?utm_source=a&id=' || doc_id || '&utm_campaign=b'
        |        WHEN 1 THEN '?id=' || doc_id || '&fbclid=xyz'
        |        ELSE '?utm_content=z' END) ||
        |      (CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END)
        |    END AS u FROM documents),
        |parts AS (
        |  SELECT doc_id, trim(u) AS t,
        |    lower(regexp_extract(trim(u), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |    lower(regexp_extract(trim(u), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
        |    regexp_extract(trim(u), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(trim(u), '^[^#]*?\?([^#]*)', 1) AS query0
        |  FROM u0),
        |steps AS (
        |  SELECT doc_id, t, sch, query0,
        |    CASE WHEN sch = 'http' THEN regexp_replace(auth0, ':80$$', '')
        |         WHEN sch = 'https' THEN regexp_replace(auth0, ':443$$', '')
        |         ELSE auth0 END AS auth,
        |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |    list_filter(string_split(query0, '&'), p ->
        |      NOT regexp_matches(p, '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$$)')) AS kept,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(t, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |      '^[^@]*@', ''), ':[0-9]*$$', '') AS host
        |  FROM parts)
        |SELECT doc_id,
        |  CASE WHEN sch = '' THEN t
        |       ELSE sch || '://' || auth || path ||
        |         (CASE WHEN query0 = '' OR len(kept) = 0 THEN ''
        |               ELSE '?' || array_to_string(kept, '&') END)
        |  END AS url_canon,
        |  host,
        |  CASE WHEN len(string_split(host, '.')) <= 2 THEN host
        |       ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |  END AS rdomain
        |FROM steps ORDER BY doc_id""".stripMargin)),

    "pipeline_vocab" -> Q(
      (s, dir) => graft.pipeline.Corpus.vocabulary(
        TestStores.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("token"),
      Some(raw"""SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, u.token
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents), UNNEST(t) AS u(token))
        |WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin)),

    // ---- JSONL source boundary: documents written as JSONL shards (with
    // two injected corrupt lines), read back through the schema'd
    // PERMISSIVE reader — parsed rows must round-trip byte-for-byte and
    // corrupt lines must divert to the audit frame, never kill the read
    // or leak into it. Oracle = the original table. ----
    "source_jsonl_docs" -> Q(
      (s, dir) => {
        val out = java.nio.file.Files
          .createTempDirectory("graft-jsonl").toString
        graft.sources.CorpusSource.writeJsonl(
          TestStores.table(s, dir, "documents")
            .select("doc_id", "text", "lang", "source", "n_chars"), out)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "part-corrupt.json"),
          "{\"doc_id\": 1, \"text\": \"truncat\nnot json either\n")
        val r = graft.sources.CorpusSource.readJsonl(s, out)
        require(r.corrupt.collect().length == 2, "corrupt lines must surface")
        r.good.orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- embedding data card: per-label vector profile — counts, dup
    // rate, dimension range, zero / non-finite counts, L2-norm stats.
    // Deterministic poison payloads injected on BOTH sides (the gopher/PII
    // idiom): zero vectors (%97), NaN-tailed vectors (%89) — so the
    // zero/non-finite/norm-exclusion paths all fire. ----
    "embed_datacard" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "embeddings").select(
          col("label"),
          when(pmod(col("vec_id"), lit(97)) === 0,
            array_repeat(lit(0.0f), 64))
            .when(pmod(col("vec_id"), lit(89)) === 0,
              concat(slice(col("embedding"), 1, 63),
                array(lit(Float.NaN))))
            .otherwise(col("embedding")).as("vec"))
        graft.pipeline.Profile.embeddingCard(aug, "vec", Seq("label"))
      },
      Some(raw"""WITH aug AS (
        |  SELECT label,
        |    CASE WHEN vec_id % 97 = 0
        |        THEN list_transform(range(64), x -> CAST(0.0 AS FLOAT))
        |      WHEN vec_id % 89 = 0
        |        THEN list_concat(embedding[1:63], ['NaN'::FLOAT])
        |      ELSE embedding END AS vec
        |  FROM embeddings),
        |f AS (
        |  SELECT label, vec, len(vec) AS d,
        |    list_aggregate(list_transform(vec, x -> isnan(x) OR isinf(x)),
        |      'bool_or') AS bad,
        |    CASE WHEN list_aggregate(list_transform(vec,
        |        x -> isnan(x) OR isinf(x)), 'bool_or') THEN NULL
        |      ELSE CAST(round(sqrt(list_sum(list_transform(vec,
        |        x -> CAST(x AS DOUBLE) * x))), 6) AS DECIMAL(18,6)) END AS n6
        |  FROM aug)
        |SELECT label, COUNT(*) AS n_vecs,
        |  COUNT(DISTINCT vec) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT vec) AS n_exact_dups,
        |  MIN(d) AS dims_min, MAX(d) AS dims_max,
        |  CAST(SUM(CASE WHEN n6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(MIN(n6) * 1000000 AS BIGINT) AS norm_min_e6,
        |  CAST(MAX(n6) * 1000000 AS BIGINT) AS norm_max_e6,
        |  CAST(SUM(n6) * 1000000 AS BIGINT) AS norm_sum_e6,
        |  COUNT(n6) AS n_finite
        |FROM f GROUP BY label ORDER BY label""".stripMargin)),

    // ---- streaming embedding card (batch twin — stream agreement pinned
    // in StreamingSpec): per (hour window, label), the algebraic card —
    // same poison injection as embed_datacard, windows as epoch micros ----
    "embed_card_stream" -> Q(
      (s, dir) => {
        val aug = TestStores.table(s, dir, "embeddings").select(
          col("label"),
          timestamp_seconds(lit(1704067200L) + col("vec_id") * 60).as("ts"),
          when(pmod(col("vec_id"), lit(97)) === 0,
            array_repeat(lit(0.0f), 64))
            .when(pmod(col("vec_id"), lit(89)) === 0,
              concat(slice(col("embedding"), 1, 63),
                array(lit(Float.NaN))))
            .otherwise(col("embedding")).as("vec"))
        graft.streaming.StreamingIngest.streamingEmbeddingCard(
            aug, "ts", "vec", Seq("label"), "1 hour")
          .select(unix_micros(col("window_start")).as("window_us"),
            col("label"), col("n_vecs"), col("dims_min"), col("dims_max"),
            col("n_zero"), col("n_nonfinite"), col("norm_min_e6"),
            col("norm_max_e6"), col("norm_sum_e6"), col("n_finite"))
          .orderBy("window_us", "label")
      },
      Some(raw"""WITH aug AS (
        |  SELECT label,
        |    ((1704067200 + vec_id * 60) // 3600) * 3600 * 1000000 AS w,
        |    CASE WHEN vec_id % 97 = 0
        |        THEN list_transform(range(64), x -> CAST(0.0 AS FLOAT))
        |      WHEN vec_id % 89 = 0
        |        THEN list_concat(embedding[1:63], ['NaN'::FLOAT])
        |      ELSE embedding END AS vec
        |  FROM embeddings),
        |f AS (
        |  SELECT label, w, len(vec) AS d,
        |    list_aggregate(list_transform(vec, x -> isnan(x) OR isinf(x)),
        |      'bool_or') AS bad,
        |    CASE WHEN list_aggregate(list_transform(vec,
        |        x -> isnan(x) OR isinf(x)), 'bool_or') THEN NULL
        |      ELSE CAST(round(sqrt(list_sum(list_transform(vec,
        |        x -> CAST(x AS DOUBLE) * x))), 6) AS DECIMAL(18,6)) END AS n6
        |  FROM aug)
        |SELECT w AS window_us, label, COUNT(*) AS n_vecs,
        |  MIN(d) AS dims_min, MAX(d) AS dims_max,
        |  CAST(SUM(CASE WHEN n6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(MIN(n6) * 1000000 AS BIGINT) AS norm_min_e6,
        |  CAST(MAX(n6) * 1000000 AS BIGINT) AS norm_max_e6,
        |  CAST(SUM(n6) * 1000000 AS BIGINT) AS norm_sum_e6,
        |  COUNT(n6) AS n_finite
        |FROM f GROUP BY w, label ORDER BY window_us, label""".stripMargin)),

    // ---- corpus data card (datasheets-for-datasets): per (source, lang)
    // slice — doc counts, exact-dup rate (64-bit content hash), empty-doc
    // count, token/char volumes, fixed-bucket length histogram. One scan,
    // one map-side-combined groupBy; every column integral so the oracle
    // reproduces it bit-for-bit. ----
    "pipeline_datacard" -> Q(
      (s, dir) => graft.pipeline.Profile.dataCard(
        TestStores.table(s, dir, "documents"), "text", Seq("source", "lang")),
      Some(raw"""WITH f AS (
        |  SELECT source, lang, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
        |    length(text) AS nc
        |  FROM documents)
        |SELECT source, lang,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_distinct_texts,
        |  COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups,
        |  CAST(SUM(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(nc) AS BIGINT) AS total_chars,
        |  CAST(MIN(nt) AS BIGINT) AS min_tokens,
        |  CAST(MAX(nt) AS BIGINT) AS max_tokens,
        |  CAST(SUM(CASE WHEN nt BETWEEN 1 AND 32 THEN 1 ELSE 0 END) AS BIGINT) AS len_le_32,
        |  CAST(SUM(CASE WHEN nt BETWEEN 33 AND 128 THEN 1 ELSE 0 END) AS BIGINT) AS len_le_128,
        |  CAST(SUM(CASE WHEN nt BETWEEN 129 AND 512 THEN 1 ELSE 0 END) AS BIGINT) AS len_le_512,
        |  CAST(SUM(CASE WHEN nt > 512 THEN 1 ELSE 0 END) AS BIGINT) AS len_gt_512
        |FROM f GROUP BY source, lang ORDER BY source, lang""".stripMargin)),

    // ---- concat-then-chunk sequence packing (GPT-style pretraining): docs
    // laid end-to-end in id order per md5 shard, stream cut every 2048
    // tokens; output = each doc's (shard, sequence, offset). The window
    // runs PER SHARD — 8 independent streams — so the inherently
    // sequential running sum parallelizes across the cluster ----
    "pipeline_pack" -> Q(
      (s, dir) => graft.pipeline.Corpus.packSequences(
        TestStores.table(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", budget = 2048, shards = 8)
        .orderBy("doc_id"),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, shard, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM toks)
        |SELECT doc_id, shard, CAST(floor(start_tok / 2048) AS BIGINT) AS seq,
        |  start_tok % 2048 AS off, n_tok
        |FROM cum ORDER BY doc_id""".stripMargin)),

    // ---- sliding-window chunking (RAG/embedding prep): 32-token chunks
    // advancing by 24 (8-token overlap). Pure per-row HOF projection —
    // tokenize once, slice per start offset; shuffle-free ----
    "pipeline_chunk" -> Q(
      (s, dir) => graft.pipeline.Corpus.chunkByTokens(
        TestStores.table(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "chunk_ix"),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |starts AS (
        |  SELECT doc_id, t, s
        |  FROM toks, UNNEST(range(0, greatest(len(t) - 8, 1), 24)) AS r(s))
        |SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_ix,
        |  array_to_string(t[s+1:s+32], ' ') AS chunk,
        |  CAST(len(t[s+1:s+32]) AS BIGINT) AS chunk_tok
        |FROM starts ORDER BY doc_id, chunk_ix""".stripMargin)),

    // ---- corpus-trained BPE (Sennrich 2016). Train: the only
    // corpus-scale stage is the pre-token histogram groupBy; the merge
    // loop runs on the vocabulary-bounded table, FORCED onto the
    // distributed arm here so the oracle gates it rather than the driver
    // shortcut. Oracle = the independent classic single-node algorithm's
    // merges as VALUES (the BM25/spans differential idiom routed through
    // the driver's own hash gate). ----
    "pipeline_bpe_train" -> Q(
      (s, dir) => {
        import s.implicits._
        val corpus = s.sparkContext.parallelize(BpeDemoCorpus, 4).toDF("text")
        val model = graft.text.Bpe.train(corpus, "text",
          numMerges = BpeNumMerges, forceDistributed = true)
        graft.text.Bpe.mergesDF(s, model).orderBy("rank")
      },
      Some(s"""SELECT CAST(rank AS BIGINT) AS rank, l, r
        |FROM (VALUES $bpeMergeValues) AS t(rank, l, r)
        |ORDER BY rank""".stripMargin)),

    // ---- BPE encode: a single codegen'd projection with the bounded
    // merge table broadcast in the plan — no shuffle, no join, the corpus
    // never moves (plan-pinned). Oracle re-derives the encoding
    // independently in DuckDB via a recursive CTE over the merge
    // literals. ----
    "pipeline_bpe" -> Q(
      (s, dir) => {
        val model = graft.text.Bpe.Model(bpeDemoMerges)
        TestStores.table(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"),
            graft.text.Bpe.encode(col("text"), model).as("tk"))
          .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
            array_join(col("tk"), "\u0001").as("toks"))
          .where(col("n_tok") > 0).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${bpeEncodeCte("doc_id % 10 = 0")}
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  string_agg(tok, chr(1) ORDER BY w_ix, s_ix) AS toks
        |FROM (SELECT doc_id, w_ix, s_ix, syms[s_ix] AS tok
        |      FROM fin, UNNEST(range(1, len(syms)+1)) AS u(s_ix))
        |GROUP BY doc_id HAVING count(*) > 0 ORDER BY doc_id""".stripMargin)),

    // ---- sequence packing over REAL subword token counts: same one
    // shuffle on shard + per-shard running-sum window as pipeline_pack,
    // with the token budget measured in BPE tokens (one extra codegen'd
    // count projection; merge table broadcast) ----
    "pipeline_pack_bpe" -> Q(
      (s, dir) => {
        val model = graft.text.Bpe.Model(bpeDemoMerges)
        graft.pipeline.Corpus.packSequences(
          TestStores.table(s, dir, "documents").select("doc_id", "text")
            .where(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", budget = 64, shards = 4, bpe = Some(model))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${bpeEncodeCte("doc_id % 5 = 0")},
        |cnt AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n
        |        FROM fin GROUP BY doc_id),
        |toks AS (
        |  SELECT d.doc_id,
        |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
        |    COALESCE(cnt.n, 0) AS n_tok
        |  FROM documents d LEFT JOIN cnt USING (doc_id) WHERE d.doc_id % 5 = 0),
        |cum AS (
        |  SELECT doc_id, shard, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM toks)
        |SELECT doc_id, shard, CAST(floor(start_tok / 64) AS BIGINT) AS seq,
        |  start_tok % 64 AS off, n_tok
        |FROM cum ORDER BY doc_id""".stripMargin)),

    // ---- dedup: exact clusters by content hash (hash-groupBy) ----
    "dedup_exact" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        graft.dedup.Dedup.exactClusters(corpus, "doc_id", "text")
          .orderBy("keeper")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50)
        |SELECT MIN(doc_id) AS keeper, COUNT(*) AS cnt FROM corpus
        |GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin)),

    // keep-one projection: the "apply the dedup" half of exactClusters —
    // one window over the content hash, no join
    "dedup_keep_one" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        graft.dedup.Dedup.dropExactDuplicates(corpus, "doc_id", "text")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |ranked AS (SELECT doc_id,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM corpus)
        |SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // shared oracle for the three near-dup joins: exact 3-gram Jaccard ≥ 0.8
    // over the natural corpus (the driver's documents table contains real
    // near-duplicate pairs, all with J ≥ 0.85 — a clean margin for banding)
    "dedup_jaccard_exact" -> Q(
      (s, dir) => graft.dedup.Dedup.jaccardJoin(
        TestStores.table(s, dir, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy("a", "b"),
      Some(jaccardOracle)),

    // same contract with the skew guard ON: candidate pairs come only from
    // shingles present in ≤ 10 docs (maxShingleDf), then exact verification
    // over the FULL shingle sets — the 100 TB-safe arm of the exact join
    // (one corpus-hot shingle alone contributes C(d,2) pairs uncapped).
    // High-Jaccard pairs share rare shingles, so the capped pair set still
    // matches the uncapped oracle exactly.
    "dedup_jaccard_capped" -> Q(
      (s, dir) => graft.dedup.Dedup.jaccardJoin(
        TestStores.table(s, dir, "documents"), "doc_id", "text", 3, 0.8,
        maxShingleDf = Some(10))
        .orderBy("a", "b"),
      Some(jaccardOracle)),

    // MinHash-LSH: shingle→minhash sig→band join→exact verify. Same output
    // contract as the exact join (P(missed candidate | J≥0.8, 16 bands) ≈ 1e-11).
    "dedup_minhash_lsh" -> Q(
      (s, dir) => graft.dedup.Dedup.minHashLshJoin(
        TestStores.table(s, dir, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy("a", "b"),
      Some(jaccardOracle)),

    // ---- incremental dedup against a PERSISTED MinHash index: history
    // (doc_id % 5 != 0) is indexed once — bands + shingle sets on disk —
    // and the "arriving batch" (doc_id % 5 == 0) dedups against it with
    // batch-side-only hashing; output is the directional (batch, history)
    // near-dup pair list. The oracle recomputes the cross-pair exact
    // Jaccard; the index round-trip/append mechanics are pinned in
    // IncrementalDedupSpec. ----
    "dedup_incremental" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        val batch = docs.where(col("doc_id") % 5 === 0)
        // the shared read-only index (built once per process, outside any
        // bench timing region — the production index-once/probe-per-batch
        // split; the build path is pinned in IncrementalDedupSpec)
        val idx = TestStores.minHashIndex(s, dir)
        graft.dedup.IncrementalDedup
          .dedupAgainst(idx, batch, "doc_id", "text", 0.8)
          .orderBy("a", "b")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, g FROM toks,
        |  UNNEST(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM shingles GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM shingles a
        |  JOIN shingles b ON a.g = b.g
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0 GROUP BY 1, 2)
        |SELECT ia AS a, ib AS b, round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jac
        |FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8 ORDER BY a, b""".stripMargin)),

    // ---- streaming twin of dedup_incremental: the SAME history index,
    // probed by the batch slice arriving as a two-micro-batch stream
    // (foreachBatch → the verified dedupAgainst — each doc verifies
    // against the INDEX, so the batch boundary can't change the pair
    // set). Shares dedup_incremental's oracle verbatim. ----
    "docs_dedup_incr_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = TestStores.table(s, dir, "documents")
        val idx = TestStores.minHashIndex(s, dir)
        val rows = docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").cast("long"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val src = mem.toDF()
          .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text")
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try graft.streaming.StreamingIngest.streamingDedupAgainstIndex(
          idx, src, "doc_id", "text", 0.8) { pairs =>
            val batch = pairs.collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            buf.synchronized { buf ++= batch; () }
          }
        finally s.conf.set(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        try {
          val (a, b) = rows.splitAt(rows.size / 2)
          mem.addData(a: _*); q.processAllAvailable()
          mem.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        buf.toSeq.toDF("a", "b", "jac").orderBy("a", "b")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, g FROM toks,
        |  UNNEST(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM shingles GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM shingles a
        |  JOIN shingles b ON a.g = b.g
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0 GROUP BY 1, 2)
        |SELECT ia AS a, ib AS b, round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 4) AS jac
        |FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8 ORDER BY a, b""".stripMargin)),

    // SimHash: 64-bit token-hash sign aggregate, 8×8-bit bands (Hamming ≤ 7
    // guaranteed candidates), exact verify. Same output contract.
    "dedup_simhash" -> Q(
      (s, dir) => graft.dedup.Dedup.simHashJoin(
        TestStores.table(s, dir, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy("a", "b"),
      Some(jaccardOracle)),

    // ---- benchmark decontamination: training docs sharing any 5-gram with
    // the held-out "benchmark" slice (doc_id % 29 == 0) — broadcast the
    // benchmark n-gram hashes, never shuffle the corpus on content ----
    "dedup_decontaminate" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
        val bench = docs.where(col("doc_id") % 29 === 0)
        val training = docs.where(col("doc_id") % 29 =!= 0)
        graft.dedup.Dedup.decontaminate(
          training, "doc_id", "text", bench, "doc_id", "text", 5)
          .select(col("id").as("doc_id"), col("hits"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM toks,
        |  UNNEST(list_transform(range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' '))) AS u(g)),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0)
        |SELECT s.doc_id, COUNT(*) AS hits FROM sh s JOIN bench b ON s.g = b.g
        |WHERE s.doc_id % 29 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- line-level boilerplate removal (CCNet/RefinedWeb): drop lines
    // with doc-frequency > 30, reassemble surviving lines in order. The
    // corpus has no newlines, so the query manufactures a line structure
    // on BOTH sides (' table ' → newline, plus a footer every doc shares —
    // the footer plays the cookie-banner role and must vanish) ----
    "dedup_lines" -> Q(
      (s, dir) => {
        val lined = TestStores.table(s, dir, "documents").select(
          col("doc_id"),
          concat(replace(col("text"), lit(" table "), lit("\n")),
            lit("\ncopyright example corp")).as("t"))
        graft.dedup.Dedup.removeBoilerplateLines(lined, "doc_id", "t", maxDf = 30)
          .orderBy("doc_id")
      },
      Some("""WITH lined AS (
        |  SELECT doc_id, concat(replace(text, ' table ', chr(10)), chr(10),
        |    'copyright example corp') AS t FROM documents),
        |ex AS (
        |  SELECT doc_id, i AS pos, string_split(t, chr(10))[i] AS line
        |  FROM lined, UNNEST(range(1, len(string_split(t, chr(10))) + 1)) AS r(i)),
        |hot AS (SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) > 30)
        |SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS cleaned
        |FROM ex ANTI JOIN hot USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- substring-level dedup (Lee et al. 2022): every non-first
    // occurrence of a duplicated 8-token run is cut and the doc
    // reassembled; the template corpus carries natural repeats (~5% of
    // gram occurrences are non-first duplicates), so no fixture
    // injection is needed. Oracle mirrors the census/keeper/cut/anti-join
    // pipeline on raw gram STRINGS (the engine shuffles 64-bit hashes —
    // collision-free at this scale). ----
    "dedup_spans" -> Q(
      (s, dir) => graft.dedup.Dedup.removeRepeatedSpans(
        TestStores.table(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", n = 8).orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(tk) - 8 + 2)) AS r(i)
        |  WHERE len(tk) >= 8),
        |dup AS (
        |  SELECT g, min(struct_pack(id := doc_id, p := pos)) AS first
        |  FROM grams GROUP BY g HAVING count(*) >= 2),
        |keep AS (
        |  SELECT DISTINCT gr.doc_id, j
        |  FROM grams gr JOIN dup USING (g),
        |    UNNEST(range(gr.pos, gr.pos + 8)) AS t(j)
        |  WHERE gr.doc_id = dup.first.id AND gr.pos = dup.first.p),
        |cut AS (
        |  SELECT DISTINCT gr.doc_id, j
        |  FROM grams gr JOIN dup USING (g),
        |    UNNEST(range(gr.pos, gr.pos + 8)) AS t(j)
        |  WHERE (gr.doc_id <> dup.first.id OR gr.pos <> dup.first.p)
        |  AND NOT EXISTS (SELECT 1 FROM keep k
        |    WHERE k.doc_id = gr.doc_id AND k.j = t.j)),
        |tokrows AS (
        |  SELECT doc_id, i AS j, tk[i] AS tok
        |  FROM toks, UNNEST(range(1, len(tk) + 1)) AS r(i))
        |SELECT t.doc_id, array_to_string(list(t.tok ORDER BY t.j), ' ') AS cleaned
        |FROM tokrows t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.j = c.j
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // ---- near-dup clusters: MinHash-LSH pairs (the 100 TB candidate
    // path) → distributed connected components (min-label + pointer
    // jumping) → (id, component-min). Corpus augmented with re-id'd copies
    // of doc_id<50 so duplicate relations CHAIN (orig~near-dup, orig~copy,
    // near-dup~its-copy): pair output alone can't answer keep-one there —
    // the transitive closure can. Oracle = recursive CTE over the exact
    // Jaccard pair set.
    // Bench note (round 8): r7's driver-side tail truncation ate this
    // query's number, so the round-6 CC-convergence-fusion win is recorded
    // here: isolated sf0.1 processes measured 1.56 / 1.86 / 2.42 s
    // (median 1.86) vs 5.77 s in round 6 — the fused convergence check
    // (one job per pointer-jumping round instead of two) landed. ----
    "dedup_cluster" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val pairs = graft.dedup.Dedup.minHashLshJoin(
          corpus, "doc_id", "text", 3, 0.8)
        graft.dedup.ConnectedComponents.label(pairs, "a", "b").orderBy("id")
      },
      Some(clusterOracle(
        "SELECT node AS id, MIN(label) AS component FROM reach GROUP BY node ORDER BY id"))),

    // ---- the end-to-end near-dup corpus filter: pairs → components →
    // drop every member except the component min (singletons survive by
    // absence). This is the projection a training-data pipeline actually
    // ships: corpus minus chained near-duplicates, one anti-join on id. ----
    "dedup_near_keep_one" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val pairs = graft.dedup.Dedup.minHashLshJoin(
          corpus, "doc_id", "text", 3, 0.8)
        graft.dedup.ConnectedComponents
          .dropNearDuplicates(corpus, "doc_id", pairs, "a", "b")
          .select("doc_id").orderBy("doc_id")
      },
      Some(clusterOracle(
        """SELECT c.doc_id FROM corpus c WHERE c.doc_id NOT IN (
          |  SELECT node FROM reach GROUP BY node HAVING node <> MIN(label))
          |ORDER BY doc_id""".stripMargin))),

    // ---- dedup impact DRY RUN over the same cluster graph: per source,
    // what min-id keep-one WOULD remove (docs/tokens/chars + loss
    // fraction) — the curation decision report before paying for it ----
    "dedup_impact" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
          .select("doc_id", "text", "source")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"),
            col("source")))
        val pairs = graft.dedup.Dedup.minHashLshJoin(
          corpus, "doc_id", "text", 3, 0.8)
        graft.dedup.ConnectedComponents.impactReport(
          corpus, "doc_id", "source", "text", pairs, "a", "b")
      },
      Some(clusterOracle(
        raw"""SELECT x.source, COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  CAST(SUM(x.nt) AS BIGINT) AS total_tokens,
          |  CAST(SUM(CASE WHEN l.node IS NOT NULL THEN x.nt ELSE 0 END) AS BIGINT) AS tokens_removed,
          |  CAST(SUM(CASE WHEN l.node IS NOT NULL THEN x.nc ELSE 0 END) AS BIGINT) AS chars_removed,
          |  CAST((SUM(CASE WHEN l.node IS NOT NULL THEN x.nt ELSE 0 END) * 10000)
          |    // GREATEST(SUM(x.nt), 1) AS BIGINT) AS token_loss_bp
          |FROM (
          |  SELECT c.doc_id, d.source,
          |    CASE WHEN trim(c.text) = '' THEN 0
          |      ELSE len(regexp_split_to_array(trim(c.text), '\s+')) END AS nt,
          |    len(c.text) AS nc
          |  FROM corpus c JOIN documents d ON d.doc_id =
          |    CASE WHEN c.doc_id >= 10000 THEN c.doc_id - 10000 ELSE c.doc_id END) x
          |LEFT JOIN (SELECT node FROM reach GROUP BY node
          |  HAVING node <> MIN(label)) l ON l.node = x.doc_id
          |GROUP BY x.source ORDER BY x.source""".stripMargin))),

    // ---- quality-ranked keep-one over the same cluster graph: each
    // component's survivor is its LONGEST member (ties → lowest id) — the
    // keeper policy that preserves the quality signal instead of min-id.
    // Exact-copy clusters tie on length and fall back to min id; near-dup
    // families keep their longest variant (the differentiator vs
    // dedup_near_keep_one). ----
    "dedup_keep_best" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .withColumn("_len", length(col("text")))
        val pairs = graft.dedup.Dedup.minHashLshJoin(
          corpus, "doc_id", "text", 3, 0.8)
        graft.dedup.ConnectedComponents
          .dropNearDuplicatesKeepBest(corpus, "doc_id", "_len", pairs, "a", "b")
          .select("doc_id").orderBy("doc_id")
      },
      Some(clusterOracle(
        """, comp AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
          |ranked AS (
          |  SELECT c.node, row_number() OVER (PARTITION BY c.comp
          |    ORDER BY length(co.text) DESC, c.node ASC) AS rn
          |  FROM comp c JOIN corpus co ON co.doc_id = c.node)
          |SELECT doc_id FROM corpus
          |WHERE doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)
          |ORDER BY doc_id""".stripMargin))),

    // ---- embedding near-dup: sign-LSH bands + exact cosine verify.
    // Corpus = embeddings ∪ positively-rescaled (×1.02) variants of
    // vec_id<20: rescaling changes every stored byte but preserves both the
    // cosine (≈1.0 after float rounding, on both engines) and every LSH
    // sign bit — so the pair set is exact regardless of banding, and the
    // natural pairs (all < 0.6 cosine) stay excluded at threshold 0.9. ----
    "embed_near_dup" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val variants = e.where(col("vec_id") < 20).select(
          (col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.02f)).cast("float"))
            .as("embedding"))
        val corpus = e.select("vec_id", "embedding").union(variants)
        graft.dedup.Dedup.cosineNearDupJoin(corpus, "vec_id", "embedding", 0.9)
          .orderBy("a", "b")
      },
      Some(s"""WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.02 AS FLOAT) AS FLOAT))
        |  FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT a.vec_id a, b.vec_id b,
        |    ${cosSql("a.embedding", "b.embedding")} AS c
        |  FROM corpus a, corpus b WHERE a.vec_id < b.vec_id)
        |SELECT a, b, round(c, 4) AS cos FROM pairs WHERE c >= 0.9 ORDER BY a, b""".stripMargin)),

    // ---- SemDeDup-style semantic keep-one: the embed_near_dup pair graph
    // (sign-LSH bands + exact cosine verify) chained by connected
    // components; the corpus keeps the min-id representative per semantic
    // cluster. Same rescaled-variant corpus as embed_near_dup, so every
    // {original, variant} pair collapses to the original and the kept set
    // is exactly the natural corpus. Oracle: exact all-pairs cosine +
    // recursive-CTE reachability (the clusterOracle pattern, over
    // embeddings). ----
    "embed_semantic_keep_one" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val variants = e.where(col("vec_id") < 20).select(
          (col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.02f)).cast("float"))
            .as("embedding"))
        val corpus = e.select("vec_id", "embedding").union(variants)
        graft.dedup.Dedup.semanticKeepOne(corpus, "vec_id", "embedding", 0.9)
          .select("vec_id").orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.02 AS FLOAT) AS FLOAT))
        |  FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT a.vec_id a, b.vec_id b FROM corpus a, corpus b
        |  WHERE a.vec_id < b.vec_id
        |    AND ${cosSql("a.embedding", "b.embedding")} >= 0.9),
        |edges AS (SELECT a u, b v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u AS node, u AS label FROM edges
        |  UNION
        |  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
        |SELECT c.vec_id FROM corpus c WHERE c.vec_id NOT IN (
        |  SELECT node FROM reach GROUP BY node HAVING node <> MIN(label))
        |ORDER BY vec_id""".stripMargin)),

    // ---- embedding-level decontamination: per corpus row the MAX cosine
    // vs a benchmark embedding set riding the plan as a literal — pure
    // projection, no join/shuffle (the semantic analog of
    // dedup_decontaminate for paraphrased leakage) ----
    "embed_decontaminate" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val bench = e.where(col("vec_id") < 5).orderBy("vec_id").collect()
          .map(_.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toSeq
        graft.dedup.Dedup.decontaminateByEmbedding(e, "vec_id", "embedding", bench)
          .orderBy("vec_id")
      },
      Some(s"""SELECT c.vec_id, round(MAX(${cosSql("c.embedding", "b.embedding")}), 4) AS max_cos
        |FROM embeddings c CROSS JOIN
        |  (SELECT embedding FROM embeddings WHERE vec_id < 5) b
        |GROUP BY c.vec_id ORDER BY c.vec_id""".stripMargin)),

    // ---- int8 scalar quantization of the embedding column: per-vector
    // min/max codes in FIXED-ORDER double math, so DuckDB reproduces them
    // bit-exactly. Summed codes + rounded params pin the full code array
    // through the hash gate; shuffle-free per-row projection ----
    // ---- embedding k-means cluster assignment (the SemDeDup/DCLM
    // curation shape): deterministic seed centroids (k smallest-id
    // vectors — IvfIndex.build's init), ONE native-kernel argmin per row
    // (strict-< first minimum, lowest index on ties). The oracle replays
    // the same ascending-dimension double fold per centroid and the same
    // tie-break via (distance ASC, index ASC) row_number ----
    "embed_cluster_assign" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val cents = graft.pipeline.Cluster.seedCentroids(e, "id", "key", 8)
        graft.pipeline.Cluster.assign(e, "key", cents)
          .select(col("id").as("vec_id"), col("cluster"))
          .orderBy("vec_id")
      },
      Some(s"""WITH cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |    embedding AS ce
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        |d AS (
        |  SELECT e.vec_id, c.c,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${sqEuclidSql("e.embedding", "c.ce")} ASC, c.c ASC) AS rn
        |  FROM embeddings e CROSS JOIN cent c)
        |SELECT vec_id, c AS cluster FROM d WHERE rn = 1
        |ORDER BY vec_id""".stripMargin)),

    // ---- embedding-space outlier report: per vector, assigned cluster,
    // exact x10^6 squared distance to its centroid, and an integer
    // cross-multiplied flag (dist2 > 4x the cluster mean). Poison payload:
    // vec_id % 61 == 0 rescaled x5 — far from every seed centroid, so the
    // outlier arm provably fires. All-integral output (hash-robust). ----
    "embed_outliers" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val aug = e.select(col("id"),
          when(pmod(col("id"), lit(61)) === 0,
            transform(col("key"), x => (x * lit(5.0f)).cast("float")))
            .otherwise(col("key")).as("key"))
        val cents = graft.pipeline.Cluster.seedCentroids(aug, "id", "key", 8)
        graft.pipeline.Cluster.embeddingOutliers(aug, "id", "key", cents)
          .select(col("id").as("vec_id"), col("cluster"), col("dist2_e6"),
            col("n_cluster"), col("is_outlier"))
          .orderBy("vec_id")
      },
      Some(s"""WITH aug AS (
        |  SELECT vec_id, CASE WHEN vec_id % 61 = 0
        |      THEN list_transform(embedding, x -> CAST(x * CAST(5.0 AS FLOAT) AS FLOAT))
        |    ELSE embedding END AS key
        |  FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |    key AS ce
        |  FROM (SELECT * FROM aug ORDER BY vec_id LIMIT 8)),
        |d AS (
        |  SELECT a.vec_id, c.c, ${sqEuclidSql("a.key", "c.ce")} AS d2,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY ${sqEuclidSql("a.key", "c.ce")} ASC, c.c ASC) AS rn
        |  FROM aug a CROSS JOIN cent c),
        |f AS (
        |  SELECT vec_id, c AS cluster,
        |    CAST(CAST(round(d2, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS dist2_e6
        |  FROM d WHERE rn = 1),
        |st AS (SELECT cluster, COUNT(*) AS n_cluster,
        |  CAST(SUM(dist2_e6) AS BIGINT) AS s6 FROM f GROUP BY cluster)
        |SELECT f.vec_id, f.cluster, f.dist2_e6, st.n_cluster,
        |  f.dist2_e6 * st.n_cluster > 4 * st.s6 AS is_outlier
        |FROM f JOIN st USING (cluster) ORDER BY f.vec_id""".stripMargin)),

    "embed_quantize" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val (mn, mx) = graft.functions.Quantize.quantParams(col("embedding"))
        e.select(col("vec_id"),
          aggregate(graft.functions.Quantize.int8Codes(col("embedding")),
            lit(0L), (acc, q) => acc + q).as("q_sum"),
          round(mn, 5).as("q_min"), round(mx, 5).as("q_max"))
          .orderBy("vec_id")
      },
      Some("""WITH mm AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mn, mx,
        |    list_transform(embedding, x -> CASE WHEN mx = mn THEN 0
        |      ELSE CAST(least(255.0, floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn))) AS BIGINT)
        |      END) AS qs
        |  FROM mm)
        |SELECT vec_id, CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  round(mn, 5) AS q_min, round(mx, 5) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin)),

    // ---- SQ8 two-phase top-k: dequantized-cosine over int8 codes ranks
    // the corpus (1 byte/dim scanned instead of 4), a 40-deep shortlist
    // survives, exact float cosine rescores it. Both phases deterministic →
    // the oracle replays them code-for-code in DuckDB ----
    "embed_topk_quantized" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        graft.functions.Quantize.quantizedTopKJoin(
          e.where(col("vec_id") < 12), e, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, shortlist = 40)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH mm AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CASE WHEN mx = mn THEN 0
        |      ELSE CAST(least(255.0, floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn))) AS BIGINT)
        |      END) AS qs,
        |    mn, mx
        |  FROM mm),
        |dq AS (
        |  SELECT vec_id, embedding,
        |    list_transform(qs, q -> mn + CAST(q AS DOUBLE) * (mx - mn) / 255.0) AS dv
        |  FROM qz),
        |coarse AS (
        |  SELECT a.vec_id qid, b.vec_id cid, a.embedding qv, b.embedding cv,
        |    ${cosSql("a.dv", "b.dv")} AS s_coarse
        |  FROM dq a, dq b WHERE a.vec_id < 12),
        |short AS (
        |  SELECT qid, cid, qv, cv,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_coarse DESC, cid ASC) AS rs
        |  FROM coarse),
        |resc AS (
        |  SELECT qid, cid, ${cosSql("qv", "cv")} AS c FROM short WHERE rs <= 40),
        |ranked AS (
        |  SELECT qid, cid, round(c, 4) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, cid ASC) AS rank
        |  FROM resc)
        |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ---- batch top-k similarity JOIN (N queries × M corpus): broadcast
    // queries, stream corpus, per-query bounded rank — the k-NN join the
    // reference lacks (single-query GetSimN only). ----
    "embed_topk_join" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        graft.dedup.Dedup.topKJoin(
          e.where(col("vec_id") < 20), e, "vec_id", "embedding",
          "vec_id", "embedding", 3)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH scored AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 20)
        |SELECT qid, cid, round(cos, 4) AS cos, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // IVF-bucketed variant of the same join — the both-sides-large scale
    // path (no query broadcast: queries are cell-assigned and shuffle-join
    // the cell-partitioned corpus). nProbe = nCells ⇒ exact ⇒ shares the
    // exhaustive oracle; pruned-probe recall is pinned in IvfSpec.
    // ---- SQ8 x IVF composition: int8 coarse pass WITHIN probed cells,
    // ids-only shortlist, exact float rescore. nProbe = nCells => the
    // probed set is the whole corpus and the result is EXACTLY the
    // quantized brute-force arm (embed_topk_quantized) — so the oracle is
    // that arm's SQL verbatim; pruned-probe recall rides IvfSpec ----
    "embed_topk_quantized_ivf" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val ivf = TestStores.ivfIndex(s, dir) // shared stamped artifact
        val out = ivf.quantizedTopKJoin(
          e.where(col("id") < 12).select(col("id").as("vec_id"), col("key").as("embedding")),
          "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 40)
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH mm AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CASE WHEN mx = mn THEN 0
        |      ELSE CAST(least(255.0, floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn))) AS BIGINT)
        |      END) AS qs,
        |    mn, mx
        |  FROM mm),
        |dq AS (
        |  SELECT vec_id, embedding,
        |    list_transform(qs, q -> mn + CAST(q AS DOUBLE) * (mx - mn) / 255.0) AS dv
        |  FROM qz),
        |coarse AS (
        |  SELECT a.vec_id qid, b.vec_id cid, a.embedding qv, b.embedding cv,
        |    ${cosSql("a.dv", "b.dv")} AS s_coarse
        |  FROM dq a, dq b WHERE a.vec_id < 12),
        |short AS (
        |  SELECT qid, cid, qv, cv,
        |    row_number() OVER (PARTITION BY qid ORDER BY s_coarse DESC, cid ASC) AS rs
        |  FROM coarse),
        |resc AS (
        |  SELECT qid, cid, ${cosSql("qv", "cv")} AS c FROM short WHERE rs <= 40),
        |ranked AS (
        |  SELECT qid, cid, round(c, 4) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, cid ASC) AS rank
        |  FROM resc)
        |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    "embed_topk_join_ivf" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val ivf = TestStores.ivfIndex(s, dir) // shared stamped artifact
        val out = ivf.topKJoin(
          e.where(col("id") < 20).select(col("id").as("vec_id"), col("key").as("embedding")),
          "vec_id", "embedding", k = 3, nProbe = 8)
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH scored AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |    ${euclidSql("q.embedding", "c.embedding")} AS dist,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${euclidSql("q.embedding", "c.embedding")} ASC, c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 20)
        |SELECT qid, cid, ${r4("dist")} AS sim, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ---- recall-TARGETED IVF: nProbe read off the measured calibration
    // curve (IvfIndex.calibrate — self-sample LOO vs the index's own
    // exhaustive join, which is EXACT for IVF). recall=1.0 is the
    // certification target: nProbeFor always answers exhaustive (a
    // sample can't certify perfection), so the join is the exact linear
    // ranking — deterministic, hash-gateable end to end; sub-1.0 floors
    // are IvfSpec territory. Same contract as vdb_sim_hnsw_routed_recall
    // on the routed side. ----
    "embed_topk_ivf_recall" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val ivf = TestStores.ivfIndex(s, dir) // shared stamped artifact
        val cal = ivf.calibrate(nQueries = 32, k = 3, seed = 7L)
        val out = cal.topKJoin(
          e.where(col("id") < 20).select(col("id").as("vec_id"), col("key").as("embedding")),
          "vec_id", "embedding", k = 3, nProbe = cal.nProbeFor(1.0))
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH scored AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |    ${euclidSql("q.embedding", "c.embedding")} AS dist,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${euclidSql("q.embedding", "c.embedding")} ASC, c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 20)
        |SELECT qid, cid, ${r4("dist")} AS sim, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ---- PQ (product quantization, Jégou 2011) two-phase top-k: the
    // byte-budget arm beyond SQ8 — m=8 trained sub-codebooks, coarse ADC
    // pass over an 8-int CODE column (vs 64 floats), 100-deep shortlist,
    // exact float rescore. The codebook is data-trained, so the oracle
    // can't replay the coarse pass in SQL; instead the shortlist is sized
    // so the rescore provably recovers the exact top-k on this corpus
    // (the shortlist=corpus identity and practical-shortlist recall are
    // pinned in PqSpec; encode is differentially pinned against the JVM
    // reference) and the oracle is the exhaustive brute-force cosine. ----
    "embed_topk_pq" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val cb = TestStores.pqCodebook(s, dir) // shared stamped artifact
        cb.topKJoin(
          e.where(col("id") < 12).select(col("id").as("vec_id"), col("key").as("embedding")),
          e.select(col("id").as("vec_id"), col("key").as("embedding")),
          "vec_id", "embedding", "vec_id", "embedding", k = 5, shortlist = 150)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH scored AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 12)
        |SELECT qid, cid, round(cos, 4) AS cos, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- PQ × IVF composition (IVF-ADC, Jégou 2011 §IV): the m-int ADC
    // coarse pass runs over PROBED CELLS ONLY — partition pruning × the
    // byte cut, stacked. nProbe = nCells ⇒ probed set = whole corpus ⇒
    // EXACTLY the PQ brute-force arm (PqSpec pins the identity), so the
    // oracle is that arm's exhaustive-cosine SQL verbatim; pruned-probe
    // recall rides PqSpec. ----
    "embed_topk_pq_ivf" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        // both artifacts load stamped (VERDICT r9 #3: the sf1 number was
        // 15.0 s of which ~10 s was a per-query Lloyd train + PQ train the
        // artifact store had already paid) — this is probe-only
        val cb = TestStores.pqCodebook(s, dir)
        val ivf = TestStores.ivfIndex(s, dir)
        val out = ivf.pqTopKJoin(
          e.where(col("id") < 12).select(col("id").as("vec_id"), col("key").as("embedding")),
          "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 150, cb = cb)
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH scored AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c WHERE q.vec_id < 12)
        |SELECT qid, cid, round(cos, 4) AS cos, CAST(rank AS BIGINT) AS rank
        |FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- hard-negative mining (contrastive-training data prep): per
    // query vector, top-5 most-similar DIFFERENT-label corpus vectors +
    // the query's best same-label cosine as the semi-hard anchor. The
    // semi_hard flag is decided on the rounded values both engines report.
    "embed_hard_negatives" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        graft.ann.Negatives.hardNegatives(
          e.where(col("vec_id") < 15), e,
          "vec_id", "embedding", "label", "vec_id", "embedding", "label", 5)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH s AS (
        |  SELECT q.vec_id qid, c.vec_id cid, q.label ql, c.label cl,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 15 AND q.vec_id <> c.vec_id),
        |pos AS (SELECT qid, max(cos) AS pc FROM s WHERE ql = cl GROUP BY qid),
        |negs AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM s WHERE ql <> cl)
        |SELECT n.qid, n.cid, round(n.cos, 4) AS neg_cos, round(p.pc, 4) AS pos_cos,
        |  CAST(n.rank AS BIGINT) AS rank,
        |  round(n.cos, 4) < round(p.pc, 4) AS semi_hard
        |FROM negs n LEFT JOIN pos p USING (qid)
        |WHERE n.rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- IVF arm of hard-negative mining: queries cell-route and
    // shuffle-join the LABELED cell-partitioned index (no broadcast — the
    // million-anchor shape). nProbe = nCells ⇒ identical to the broadcast
    // arm ⇒ shares its exhaustive oracle; pruned-probe recall is pinned
    // in NegativesSpec. ----
    "embed_hard_negatives_ivf" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val ivf = TestStores.ivfLabeledIndex(s, dir) // shared stamped artifact
        val out = ivf.hardNegatives(
          e.where(col("vec_id") < 15)
            .select(col("vec_id"), col("embedding"), col("label")),
          "vec_id", "embedding", "label", "label", k = 5, nProbe = 8)
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH s AS (
        |  SELECT q.vec_id qid, c.vec_id cid, q.label ql, c.label cl,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 15 AND q.vec_id <> c.vec_id),
        |pos AS (SELECT qid, max(cos) AS pc FROM s WHERE ql = cl GROUP BY qid),
        |negs AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM s WHERE ql <> cl)
        |SELECT n.qid, n.cid, round(n.cos, 4) AS neg_cos, round(p.pc, 4) AS pos_cos,
        |  CAST(n.rank AS BIGINT) AS rank,
        |  round(n.cos, 4) < round(p.pc, 4) AS semi_hard
        |FROM negs n LEFT JOIN pos p USING (qid)
        |WHERE n.rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ---- cross-source n-gram overlap matrix (pre-mix contamination
    // audit): distinct-2-gram intersection / Jaccard / containment per
    // source pair, zero-overlap pairs included. Hash-counted in Spark
    // (8-byte shuffle rows); the oracle counts the gram strings. ----
    "pipeline_overlap_matrix" -> Q(
      (s, dir) => graft.pipeline.Overlap.overlapMatrix(
        TestStores.table(s, dir, "documents"), "source", "text", 2)
        .orderBy("a", "b"),
      Some(raw"""WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT source, g FROM toks,
        |  UNNEST(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS u(g)),
        |sizes AS (
        |  SELECT d.source AS g, COUNT(gr.g) AS sz
        |  FROM (SELECT DISTINCT source FROM documents) d
        |  LEFT JOIN grams gr ON gr.source = d.source GROUP BY 1),
        |inter AS (
        |  SELECT x.source a, y.source b, COUNT(*) c FROM grams x
        |  JOIN grams y ON x.g = y.g AND x.source < y.source GROUP BY 1, 2)
        |SELECT sa.g AS a, sb.g AS b, sa.sz AS n_a, sb.sz AS n_b,
        |  COALESCE(i.c, 0) AS inter_grams,
        |  round(CASE WHEN sa.sz + sb.sz - COALESCE(i.c, 0) > 0
        |    THEN CAST(COALESCE(i.c, 0) AS DOUBLE) / (sa.sz + sb.sz - COALESCE(i.c, 0))
        |    ELSE 0.0 END, 4) AS jaccard,
        |  round(CASE WHEN sa.sz > 0
        |    THEN CAST(COALESCE(i.c, 0) AS DOUBLE) / sa.sz ELSE 0.0 END, 4) AS containment_a,
        |  round(CASE WHEN sb.sz > 0
        |    THEN CAST(COALESCE(i.c, 0) AS DOUBLE) / sb.sz ELSE 0.0 END, 4) AS containment_b
        |FROM sizes sa JOIN sizes sb ON sa.g < sb.g
        |LEFT JOIN inter i ON i.a = sa.g AND i.b = sb.g
        |ORDER BY a, b""".stripMargin)),

    // ---- row-level corpus version diff: added/removed/changed ids
    // between two corpus versions (deterministic edits injected on both
    // sides: %11 removed, %13 changed, <20 re-id'd additions) ----
    "pipeline_corpus_diff" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents").select("doc_id", "text")
        val neu = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(13)) === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
          .unionByName(docs.where(col("doc_id") < 20)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        graft.pipeline.Overlap.corpusDiff(docs, neu, "doc_id", "text")
          .orderBy("id")
      },
      Some("""WITH o AS (SELECT doc_id AS id, text FROM documents),
        |n AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
        |d AS (
        |  SELECT COALESCE(o.id, n.id) AS id,
        |    CASE WHEN o.id IS NULL THEN 'added'
        |      WHEN n.id IS NULL THEN 'removed'
        |      WHEN o.text <> n.text THEN 'changed' END AS status
        |  FROM o FULL OUTER JOIN n ON o.id = n.id)
        |SELECT id, status FROM d WHERE status IS NOT NULL
        |ORDER BY id""".stripMargin)),

    // ---- token-distribution drift (corpus-version monitor): per source
    // pair, unigram L1 distance + vocabulary Jaccard. Division-only
    // arithmetic (no logs) so both engines compute bit-identical terms;
    // per-term 12dp decimal summation makes the sum order-proof. ----
    "pipeline_token_drift" -> Q(
      (s, dir) => graft.pipeline.Overlap.tokenDrift(
        TestStores.table(s, dir, "documents"), "source", "text")
        .orderBy("a", "b"),
      Some(raw"""WITH toks AS (
        |  SELECT source AS g, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |cnt AS (SELECT g, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT g, SUM(c) AS n, COUNT(*) AS v FROM cnt GROUP BY 1),
        |shared AS (
        |  SELECT x.g a, y.g b,
        |    SUM(CAST(round(abs(CAST(x.c AS DOUBLE)/tx.n - CAST(y.c AS DOUBLE)/ty.n), 12)
        |      AS DECIMAL(24,12))) AS l1s,
        |    SUM(x.c) AS sa, SUM(y.c) AS sb, COUNT(*) AS sv
        |  FROM cnt x JOIN cnt y ON x.tok = y.tok AND x.g < y.g
        |  JOIN tot tx ON tx.g = x.g JOIN tot ty ON ty.g = y.g
        |  GROUP BY 1, 2)
        |SELECT ta.g AS a, tb.g AS b, ta.v AS vocab_a, tb.v AS vocab_b,
        |  COALESCE(s.sv, 0) AS shared_vocab,
        |  round(CAST(COALESCE(s.sv, 0) AS DOUBLE)
        |    / (ta.v + tb.v - COALESCE(s.sv, 0)), 4) AS vocab_jaccard,
        |  round(COALESCE(CAST(s.l1s AS DOUBLE), 0.0)
        |    + (1.0 - CAST(COALESCE(s.sa, 0) AS DOUBLE)/ta.n)
        |    + (1.0 - CAST(COALESCE(s.sb, 0) AS DOUBLE)/tb.n), 4) AS l1_dist
        |FROM tot ta JOIN tot tb ON ta.g < tb.g
        |LEFT JOIN shared s ON s.a = ta.g AND s.b = tb.g
        |ORDER BY a, b""".stripMargin)),

    // ---- AS-OF JOIN (point-in-time enrichment): each purchase matched to
    // the latest view at-or-before it per user — union-and-sweep (one
    // shuffle on user, one per-key window, zero joins), vs DuckDB's native
    // ASOF LEFT JOIN with the same greatest-payload duplicate rule. ----
    "events_asof_join" -> Q(
      (s, dir) => {
        val ev = TestStores.eventsTable(s, dir)
          .withColumn("ts_us", unix_micros(col("ts")))
        graft.events.EventOps.asofJoin(
          ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts_us"),
          "ts_us",
          ev.where(col("event_type") === "view")
            .select("event_id", "user_id", "ts_us"),
          "ts_us", "user_id", Seq("event_id"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        |  FROM events),
        |v AS (SELECT user_id, ts_us, max(event_id) AS mid
        |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts_us FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  v.ts_us AS matched_ts_us, v.mid AS matched_event_id
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY p.event_id""".stripMargin)),

    // ---- INTERVAL JOIN (attribution windows): every view within the hour
    // before each purchase per user — keyed equi-join + range filter (one
    // ordinary shuffled join, no cartesian); the stream-stream twin with
    // watermark-bounded state is pinned in StreamingSpec. ----
    "events_interval_join" -> Q(
      (s, dir) => {
        val ev = TestStores.eventsTable(s, dir)
          .withColumn("ts_us", unix_micros(col("ts")))
        graft.events.EventOps.intervalJoin(
          ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts_us"),
          "ts_us",
          ev.where(col("event_type") === "view")
            .select("event_id", "user_id", "ts_us"),
          "ts_us", "user_id", Seq("event_id"),
          lowerUs = -3600L * 1000000L, upperUs = 0L)
          .orderBy("event_id", "matched_event_id")
      },
      Some("""WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        |  FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  v.ts_us AS matched_ts_us, v.event_id AS matched_event_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us
        |ORDER BY p.event_id, v.event_id""".stripMargin)),

    // ---- event-time windowed aggregation (the streaming surface's shared
    // batch/stream computation — StreamingIngest.windowedEventStats; the
    // streaming path with watermarks is pinned in StreamingSpec) ----
    "events_window_agg" -> Q(
      (s, dir) => graft.streaming.StreamingIngest
        .windowedEventStats(TestStores.eventsTable(s, dir), "1 hour")
        .select(col("window_start"), col("event_type"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |event_type, COUNT(*) AS n_events,
        |round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming n-gram monitor (batch twin — streaming agreement is
    // pinned in StreamingSpec): windowed counts of a FIXED batch-mined
    // gram set; docs get a deterministic event time (epoch + doc_id
    // minutes), windows compare as epoch MICROS (tz-proof). ----
    "docs_ngram_monitor" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
          .withColumn("ts",
            timestamp_seconds(lit(1704067200L) + col("doc_id") * 60))
        graft.streaming.StreamingIngest.ngramMonitor(
            docs, "ts", "text", 2,
            Seq("table hash", "customer join", "big order"), "1 hour")
          .select(unix_micros(col("window_start")).as("window_us"),
            col("ngram"), col("n"))
          .orderBy("window_us", "ngram")
      },
      Some(raw"""WITH toks AS (
        |  SELECT (1704067200 + doc_id * 60) AS es,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (SELECT es, UNNEST(list_transform(range(1, len(t)),
        |    i -> array_to_string(t[i:i+1], ' '))) AS ngram FROM toks)
        |SELECT (es // 3600) * 3600 * 1000000 AS window_us, ngram, COUNT(*) AS n
        |FROM grams WHERE ngram IN ('table hash', 'customer join', 'big order')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming drift alarm (batch twin — stream agreement pinned in
    // StreamingSpec): per window, L1 between the window's (K+1)-bucket
    // token distribution and a RATIONAL reference (numerators over a
    // common denominator 64: 4/64, 2/64, 1/64). The alarm ships the
    // exact integer (l1_num, l1_den) pair — pure BIGINT arithmetic, so
    // no engine's double canonicalization can touch a byte of it
    // (l1 = l1_num / l1_den when a float is wanted). ----
    "docs_drift_stream" -> Q(
      (s, dir) => {
        val docs = TestStores.table(s, dir, "documents")
          .withColumn("ts",
            timestamp_seconds(lit(1704067200L) + col("doc_id") * 60))
        val refNum = Map("table" -> 4L, "filter" -> 2L, "join" -> 1L)
        val counts = graft.streaming.StreamingIngest.streamingDriftCounts(
            docs, "ts", "text", refNum.keys.toSeq.sorted, "1 hour")
          .select(unix_micros(col("window_start")).as("window_start"),
            col("token"), col("n"))
        graft.streaming.StreamingIngest.driftFromCounts(counts, refNum, 64L)
          .select(col("window_start").as("window_us"), col("n_tokens"),
            col("l1_num"), col("l1_den"))
          .orderBy("window_us")
      },
      Some(raw"""WITH toks AS (
        |  SELECT (1704067200 + doc_id * 60) AS es,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |cls AS (SELECT (es // 3600) * 3600 * 1000000 AS w,
        |  CASE WHEN tok IN ('filter', 'join', 'table') THEN tok
        |    ELSE '__other__' END AS token FROM toks),
        |cnt AS (SELECT w, token, COUNT(*) AS n FROM cls GROUP BY 1, 2),
        |wt AS (SELECT w, SUM(n) AS wt FROM cnt GROUP BY 1),
        |ref(token, rp) AS (VALUES ('table', 4), ('filter', 2),
        |  ('join', 1), ('__other__', 57)),
        |grid AS (SELECT wt.w, wt.wt, ref.token, CAST(ref.rp AS BIGINT) AS rp
        |  FROM wt CROSS JOIN ref)
        |SELECT g.w AS window_us, CAST(g.wt AS BIGINT) AS n_tokens,
        |  CAST(SUM(abs(64 * COALESCE(c.n, 0) - g.rp * g.wt)) AS BIGINT) AS l1_num,
        |  CAST(g.wt * 64 AS BIGINT) AS l1_den
        |FROM grid g LEFT JOIN cnt c ON c.w = g.w AND c.token = g.token
        |GROUP BY g.w, g.wt ORDER BY window_us""".stripMargin)),

    // ---- gap-based sessionization, batch twin of the streaming
    // flatMapGroupsWithState operator (StreamingIngest.sessionize; the
    // streaming/batch agreement is pinned in StreamingSpec). Timestamps
    // compare as epoch MICROS on both engines regardless of the parquet
    // physical type (nanos truncate; micros pass through — TestStores
    // .eventsTable normalizes). ----
    "events_sessionize" -> Q(
      (s, dir) => graft.streaming.StreamingIngest
        .sessionizeBatch(TestStores.eventsTable(s, dir), gapSeconds = 1800)
        .select(col("user_id"), col("session_start_us"), col("session_end_us"),
          col("n_events"), round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_start_us"),
      Some("""WITH marked AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS em, value,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR (epoch_ns(ts) // 1000) - lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts) > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sid AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY em
        |  ROWS UNBOUNDED PRECEDING) AS s FROM marked)
        |SELECT user_id, MIN(em) AS session_start_us, MAX(em) AS session_end_us,
        |  COUNT(*) AS n_events,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
        |FROM sid GROUP BY user_id, s
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // ---- streaming exact dedup: originals replayed in batch 1, content
    // copies (re-id'd doc_id<50, later event time within the watermark) in
    // batch 2 — state from batch 1 must drop every copy, so the kept set
    // is exactly the originals (texts are unique under the id bound;
    // verified per SF). Exercises cross-micro-batch state + the
    // watermark-bounded dropDuplicatesWithinWatermark path end-to-end ----
    "events_dedup_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = TestStores.table(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("text"))
          .where(col("doc_id") < 1000)
        val originals = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val copies = originals.filter(_._1 < 50).map { case (id, t) => (id + 10000, t) }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val src = mem.toDF()
          .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text")
          .withColumn("ts", timestamp_seconds(lit(1700000000L) +
            when(col("doc_id") >= 10000, 100L).otherwise(0L)))
        val deduped = graft.streaming.StreamingIngest.streamingDropDuplicates(
          src, "text", "ts", "1 hour")
        val name = "events_dedup_stream_sink"
        s.catalog.dropTempView(name)
        // the stateful dedup operator pays a fixed per-partition state-store
        // open/commit cost each micro-batch; the replay is bounded at ~1050
        // rows by construction, so scope a lower shuffle width to the
        // streaming query only (the events_neardup_stream discipline —
        // data-proportionate, not machine-tuned; round-17)
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try deduped.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        }
        val kept = try {
          mem.addData(originals: _*)
          q.processAllAvailable()
          mem.addData(copies: _*)
          q.processAllAvailable()
          s.table(name).select(col("doc_id"), col("content_hash")).collect().toSeq
        } finally {
          q.stop(); s.catalog.dropTempView(name)
          org.apache.spark.sql.graftbridge.ColumnBridge.unloadStreamingStateStores()
        }
        s.createDataFrame(
          s.sparkContext.parallelize(kept, 4),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("content_hash",
              org.apache.spark.sql.types.StringType)))).orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS content_hash
        |FROM documents WHERE doc_id < 1000 ORDER BY doc_id""".stripMargin)),

    // ---- streaming near-dup: the documents corpus replayed through a
    // MemoryStream into the stateful banded candidate operator (signature
    // bit-identical to the batch path), candidates exact-verified by the
    // SAME batch Jaccard join contract — so the verified output must equal
    // the batch minHashLshJoin pair set, i.e. the shared jaccardOracle ----
    "events_neardup_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        // replay corpus bounded at 1000 ids: covers the ENTIRE corpus at
        // the sf0.01 correctness gate (ids 0..499), and keeps the bench's
        // 3x replay of this single-JVM streaming harness proportionate at
        // sf0.1 (the uncapped band state pairs quadratically on the
        // template corpus — 158k candidates over 5k docs)
        val docs = TestStores.table(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("text"))
          .where(col("doc_id") < 1000)
        val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val src = mem.toDF()
          .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text")
          .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
        // parity arm: no band cap (the cap is the skew guard, pinned in
        // StreamingSpec) so the candidate domain matches the batch join's
        val cands = graft.streaming.StreamingIngest.streamingNearDupCandidates(
          src, "doc_id", "text", "ts", "1 hour", n = 3, numHashes = 16,
          maxDocsPerBand = 1 << 20)
        val name = "events_neardup_stream_sink"
        s.catalog.dropTempView(name)
        // the stateful operator pays a fixed per-partition state-store cost
        // each micro-batch; 5k docs x 16 bands need few partitions — scope
        // a lower shuffle width to the streaming query only
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val q = try cands.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        }
        val candidatePairs = try {
          mem.addData(rows: _*)
          q.processAllAvailable()
          s.table(name).select(col("a"), col("b")).distinct().collect().toSeq
        } finally {
          q.stop(); s.catalog.dropTempView(name)
          // leave nothing resident: unload state-store providers + stop
          // their maintenance thread (next streaming query reloads lazily)
          org.apache.spark.sql.graftbridge.ColumnBridge.unloadStreamingStateStores()
        }
        val cdf = s.createDataFrame(
          s.sparkContext.parallelize(candidatePairs, 4),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("a",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("b",
              org.apache.spark.sql.types.LongType))))
        graft.dedup.Dedup.verifyJaccardPairs(docs, "doc_id", "text", 3, 0.8, cdf)
          .orderBy("a", "b")
      },
      Some(jaccardOracle.replace("FROM documents",
        "FROM documents WHERE doc_id < 1000"))),

    // ---- IVF index (extension): partition-pruned ANN. nProbe = nCells ⇒
    // exhaustive ⇒ identical to the exact linear scan — the correctness
    // gate; pruned-probe recall is pinned in IvfSpec. ----
    // ---- FULL iterated k-means (2 Lloyd rounds), oracle-replayed: the
    // vectors are snapped to an integer grid (×8 — a power of two, so the
    // scale is exact — then round) which makes every Lloyd mean an exact
    // integer sum / count: order-independent in IEEE double, so DuckDB can
    // replay seed → assign → mean → assign → mean → final-assign
    // bit-for-bit (the float cast per round included). Ties on the integer
    // grid are common and pin the strict-< lowest-index tie-break for real
    // (embed_cluster_assign's jittered floats almost never tie) ----
    "embed_cluster_kmeans" -> Q(
      (s, dir) => {
        val e = TestStores.embKeyed(s, dir)
        val ints = e.select(col("id"),
          transform(col("key"),
            x => round(x.cast("double") * 8).cast("float")).as("key"))
        val (_, assigned) =
          graft.pipeline.Cluster.kmeans(ints, "id", "key", k = 4, iters = 2)
        assigned.select(col("id").as("vec_id"), col("cluster"))
          .orderBy("vec_id")
      },
      Some {
        def argmin(src: String, cents: String) =
          s"""SELECT vec_id, v, c FROM (
             |  SELECT b.vec_id, b.v, c.c,
             |    row_number() OVER (PARTITION BY b.vec_id
             |      ORDER BY ${sqEuclidSql("b.v", "c.cv")} ASC, c.c ASC) AS rn
             |  FROM $src b CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
        def mean(src: String, prev: String) =
          s"""SELECT p.c, COALESCE(m.cv2, p.cv) AS cv FROM $prev p
             |LEFT JOIN (
             |  SELECT c, list(m ORDER BY i) AS cv2 FROM (
             |    SELECT c, i, CAST(avg(CAST(val AS DOUBLE)) AS FLOAT) AS m
             |    FROM (SELECT c, generate_subscripts(v, 1) AS i,
             |          UNNEST(v) AS val FROM $src)
             |    GROUP BY c, i) GROUP BY c) m ON p.c = m.c""".stripMargin
        s"""WITH base AS (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(round(CAST(x AS DOUBLE) * 8) AS FLOAT)) AS v
           |  FROM embeddings),
           |c0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
           |    v AS cv
           |  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 4)),
           |a0 AS (${argmin("base", "c0")}),
           |c1 AS (${mean("a0", "c0")}),
           |a1 AS (${argmin("base", "c1")}),
           |c2 AS (${mean("a1", "c1")}),
           |af AS (${argmin("base", "c2")})
           |SELECT vec_id, c AS cluster FROM af ORDER BY vec_id""".stripMargin
      }),

    "ann_ivf_exact" -> Q(
      (s, dir) => {
        val ivf = TestStores.ivfIndex(s, dir) // shared stamped artifact
        val out = ivf.search(TestStores.queryVec(s, dir), 10, nProbe = 8)
          .select(col("id").as("vec_id"),
            round(col("similarity").cast("double"), 4).as("sim"))
        val rows = out.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(simOracle(euclidSql("e.embedding", "q.qe"), desc = false))),

    // ---- coarse-ROUTED sharded HNSW (the 100 TB GetSimN read path —
    // content-based shard assignment, partition-pruned probe): exhaustive
    // probes (= numShards) is the all-shard merge, and at this corpus
    // size every per-shard graph is denser than efSearch, so the top-10
    // SET is exact — the identity the oracle pins; the probes << shards
    // recall curve is ScaleRecall's job (SCALE.md). Output is integral
    // (qid, cid) pairs — the hash-robustness rule. ----
    "embed_topk_hnsw_routed" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"), col("embedding").as("key"))
        val idx = TestStores.routedIndex(s, dir) // shared stamped artifact
        val qids = Seq(0L, 7L, 42L)
        val qs = e.where(col("id").isin(qids: _*))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        import s.implicits._
        qs.toSeq.flatMap { case (qid, v) =>
          idx.search(v, 10, probes = idx.numShards)
            .map { case (cid, _) => (qid, cid) }
        }.toDF("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (0, 7, 42)),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 10
        |ORDER BY qid, cid""".stripMargin)),

    // ---- batch kNN JOIN through the routed shards (RoutedAnnIndex
    // .topKJoin): queries — the SMALL side — shuffle to the shard
    // partitions where the graphs already live; the corpus never moves.
    // Exhaustive probes + the fixture's wide beam ⇒ exact per-query
    // top-k ⇒ the brute-force oracle; the probes << shards curve is
    // RoutedAnnSpec / ScaleRecall territory. Integral output. ----
    "embed_topk_join_routed" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val idx = TestStores.routedIndex(s, dir) // shared stamped artifact
        idx.topKJoin(
            e.where(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 3, probes = idx.numShards)
          .select("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 3
        |ORDER BY qid, cid""".stripMargin)),

    // ---- SQ8 routed batch join (round 14): the quantized graphs rank a
    // (k + RescoreSlack)-deep candidate cut, the exact float vectors
    // re-attach from the corpus frame for the rescore
    // (RoutedAnnIndex.topKJoinRescored — the served path, the one the
    // quantized calibration measures), and at exhaustive probes the
    // result equals the brute-force oracle. DSL twin:
    // `TOPK … ROUTED SHARDS s PROBE p SQ8` (DslSpec). ----
    "embed_topk_join_routed_sq8" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val idx = TestStores.routedSq8Index(s, dir) // shared stamped artifact
        idx.topKJoinRescored(
            e.where(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 3, probes = idx.numShards,
            exact = TestStores.embKeyed(s, dir))
          .select("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 3
        |ORDER BY qid, cid""".stripMargin)),

    // ---- PQ routed batch join (round 15): the PRODUCT-QUANTIZED graphs
    // (pq(m=8,ksub=256) — 8 bytes/node where SQ8 spends 64 and f32 256)
    // rank a (k + PQ RescoreSlack)-deep candidate cut on ADC scores, the
    // exact float vectors re-attach from the corpus frame for the
    // rescore (RoutedAnnIndex.topKJoinRescored at the storage's WIDER
    // default slack — the served path, the one a PQ calibration
    // measures), and at exhaustive probes the result equals the
    // brute-force oracle. DSL twin:
    // `TOPK … ROUTED SHARDS s PROBE p PQ [M m KSUB k]` (DslSpec). ----
    "embed_topk_join_routed_pq" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val idx = TestStores.routedPqIndex(s, dir) // shared stamped artifact
        idx.topKJoinRescored(
            e.where(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 3, probes = idx.numShards,
            exact = TestStores.embKeyed(s, dir))
          .select("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 3
        |ORDER BY qid, cid""".stripMargin)),

    // ---- OPQ routed batch join (round 16): the same m-byte codes as
    // the PQ join, trained in a LEARNED ORTHOGONAL BASIS (Ge et al.
    // 2013 — the rotation recovers most of PQ's low-dim loss; measured
    // +4.0pt served at 64-d, SCALE.md). Orthogonal invariance keeps the
    // serving contract identical: ADC ranks a (k + slack)-deep cut in
    // the rotated basis, the exact float vectors re-attach for the
    // rescore, and at exhaustive probes the result equals the
    // brute-force oracle. DSL twin:
    // `TOPK … ROUTED SHARDS s PROBE p OPQ [M m KSUB k]` (DslSpec). ----
    "embed_topk_join_routed_opq" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val idx = TestStores.routedOpqIndex(s, dir) // shared stamped artifact
        idx.topKJoinRescored(
            e.where(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 3, probes = idx.numShards,
            exact = TestStores.embKeyed(s, dir))
          .select("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 3
        |ORDER BY qid, cid""".stripMargin)),

    // ---- FILTERED routed batch join (round 14): the accept filter —
    // here a Bloom sketch of a label-predicate slice, the AnnSearch arm's
    // sketch — threads INTO each shard's graph search (in-filtering:
    // rejected nodes stay stepping stones), so a decontaminate /
    // hard-negatives composition over a predicate slice rides the
    // graph-speed arm instead of a filtered brute-force join. The join
    // over-fetches FalsePositiveSlack candidates, post-verifies against
    // the exact accepted set (a sketch hit is never trusted into the
    // result — the hydration discipline), and re-ranks the survivors; at
    // exhaustive probes the result equals the filtered brute-force
    // oracle. ----
    "embed_topk_join_routed_filtered" -> Q(
      (s, dir) => {
        val e = TestStores.table(s, dir, "embeddings")
        val idx = TestStores.routedIndex(s, dir) // shared stamped artifact
        val accepted = e.where(col("label").cast("string").isin("1", "2", "3"))
          .select(col("vec_id").cast("long").as("cid"))
        val bloom = accepted.stat.bloomFilter("cid", accepted.count(), 0.001)
        val k = 3
        val joined = idx.topKJoin(
            e.where(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k + graft.ann.AnnSearch.FalsePositiveSlack,
            probes = idx.numShards,
            filter = graft.ann.IdFilter.Bloom(bloom))
        // exact post-verification + re-rank: the pre-verify rank order IS
        // the exact closeness order (float index), so the survivors'
        // top-k re-ranks by it — BoundedTopK on the negated rank avoids
        // re-ranking on the ROUNDED sim column
        val verified = joined.join(accepted, Seq("cid"), "left_semi")
          .select(col("qid"), col("cid"), (-col("rank")).cast("double").as("_s"))
        graft.ann.BoundedTopK.topK(verified, "qid", "cid", "_s", k)
          .select("qid", "cid").orderBy("qid", "cid")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q
        |  WHERE CAST(e.label AS VARCHAR) IN ('1','2','3'))
        |SELECT qid, cid FROM ranked WHERE rk <= 3
        |ORDER BY qid, cid""".stripMargin)),

    // ---- streaming twin: CONTINUOUS ingest into the routed index — the
    // index starts over the first half of the table, the second half
    // arrives as a two-micro-batch stream (foreachBatch →
    // RoutedAnnIndex.append: exact overlay tails, compaction past the
    // patch fraction, recluster on drift — the measured LSM tiers), then
    // the final index answers the SAME exhaustive top-10 as the batch
    // build. Overlay tails are exact and probes = shards is the all-shard
    // merge, so the result is independent of how the stream was batched —
    // shares the batch query's oracle shape. ----
    "embed_topk_routed_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val e = TestStores.table(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"), col("embedding").as("key"))
        val half = e.agg(max(col("id"))).head().getLong(0) / 2
        val cfg = graft.types.NonLinearConfig.HNSWConfig(
          efConstruction = 100, maximumConnections = 40,
          maximumConnectionsZero = 80, efSearch = 4096,
          metric = graft.types.Algorithm.CosineSimilarity)
        // fixture phase (bench split): the pre-stream index build + the
        // driver-side collection of the late rows — the exercise is the
        // streamed maintenance and the final search
        val (initial, late) = graft.obs.Trace.fixture {
          (graft.ann.RoutedAnnIndex.build(
            e.where(col("id") <= half), 64, cfg, numShards = 8, iters = 2),
          e.where(col("id") > half)
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq)
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val src = mem.toDF()
          .select(col("_1").as("id"), col("_2").cast("array<float>").as("key"))
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val (handle, q) =
          try graft.streaming.StreamingIngest.streamingRoutedAppend(
            initial, src, "id", "key")
          finally s.conf.set(
            "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        try {
          val (a, b) = late.splitAt(late.size / 2)
          mem.addData(a: _*); q.processAllAvailable()
          mem.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        val idx = handle.current
        val qids = Seq(0L, 7L, 42L)
        val qs = e.where(col("id").isin(qids: _*))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        val out = qs.toSeq.flatMap { case (qid, v) =>
          idx.search(v, 10, probes = idx.numShards)
            .map { case (cid, _) => (qid, cid) }
        }.toDF("qid", "cid").orderBy("qid", "cid")
        val rows = out.collect()
        idx.unpersist()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (0, 7, 42)),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 10
        |ORDER BY qid, cid""".stripMargin)),

    // ---- CDC twin: the stream carries DELETES beside inserts (a
    // Debezium-shaped log). Index starts over the first half; batch 1
    // inserts the third quarter and deletes the low ids; batch 2 inserts
    // the rest and RESURRECTS one deleted id (re-insert clears its
    // tombstone — content ids name immutable vectors). The final
    // exhaustive search must equal exact cosine over the NET survivor
    // set — the oracle never sees the mutation order, only the net. ----
    "embed_topk_routed_cdc_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val e = TestStores.table(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"), col("embedding").as("key"))
        val maxId = e.agg(max(col("id"))).head().getLong(0)
        val half = maxId / 2
        val cfg = graft.types.NonLinearConfig.HNSWConfig(
          efConstruction = 100, maximumConnections = 40,
          maximumConnectionsZero = 80, efSearch = 4096,
          metric = graft.types.Algorithm.CosineSimilarity)
        // fixture phase (bench split): pre-stream index build + late-row
        // collection — the exercise is the CDC replay and final search
        val (initial, late) = graft.obs.Trace.fixture {
          (graft.ann.RoutedAnnIndex.build(
            e.where(col("id") <= half), 64, cfg, numShards = 8, iters = 2),
          // the late half's ACTUAL rows — never a synthesized id range (ids
          // are not contiguous at the stride-replicated scale dirs; the sf1
          // stress run caught exactly that assumption)
          e.where(col("id") > half)
            .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq))
        }
        def ins(r: (Long, Seq[Float]), seq: Long) =
          (r._1, Some(r._2), "insert", seq)
        def del(id: Long, seq: Long) =
          (id, None: Option[Seq[Float]], "delete", seq)
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Option[Seq[Float]], String, Long)]
        val src = mem.toDF().select(col("_1").as("id"), col("_2").as("key"),
          col("_3").as("op"), col("_4").as("seq"))
        val prevForce = s.conf.get(
          "spark.sql.streaming.forceDeleteTempCheckpointLocation", "false")
        s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        val (handle, q) =
          try graft.streaming.StreamingIngest.streamingRoutedCdc(
            initial, src, "id", "key", "op", seqCol = Some("seq"))
          finally s.conf.set(
            "spark.sql.streaming.forceDeleteTempCheckpointLocation", prevForce)
        try {
          val (b1, b2) = late.sortBy(_._1).splitAt(late.length / 2)
          mem.addData(b1.map(ins(_, 1L)).toSeq ++
            (0L until 20L).map(del(_, 1L)): _*)
          q.processAllAvailable()
          // batch 2: resurrect id 10 via the initial build's own vector
          val v10 = e.where(col("id") === 10L)
            .head().getSeq[Float](1).toSeq
          mem.addData(b2.map(ins(_, 1L)).toSeq ++
            Seq((10L, Some(v10), "insert", 1L), del(30L, 1L)): _*)
          q.processAllAvailable()
        } finally q.stop()
        val idx = handle.current
        val qids = Seq(0L, 7L, 42L) // 0 and 7 are DELETED — still valid queries
        val qs = e.where(col("id").isin(qids: _*))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        val out = qs.toSeq.flatMap { case (qid, v) =>
          idx.search(v, 10, probes = idx.numShards)
            .map { case (cid, _) => (qid, cid) }
        }.toDF("qid", "cid").orderBy("qid", "cid")
        val rows = out.collect()
        idx.unpersist()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
      },
      // net survivors: everything except deleted {0..19, 30} plus the
      // resurrected 10 — the oracle ranks exact cosine over that set
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id IN (0, 7, 42)),
        |live AS (SELECT * FROM embeddings
        |  WHERE vec_id NOT IN (0,1,2,3,4,5,6,7,8,9,11,12,13,14,15,16,17,18,19,30)),
        |ranked AS (
        |  SELECT q.qid, e.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid
        |    ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id ASC) AS rk
        |  FROM live e CROSS JOIN q)
        |SELECT qid, cid FROM ranked WHERE rk <= 10
        |ORDER BY qid, cid""".stripMargin)),

    // ---- multimodal: binary payloads + typed metadata; decode kernel is a
    // documented deterministic stub (no codecs in this environment), the
    // partition-iterator plumbing and batch shape are real. ----
    "mm_decode_stub" -> Q(
      (s, dir) => {
        val media = TestStores.table(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        graft.multimodal.Multimodal.decodeImageStub(media, "doc_id", "payload")
          .select(col("id").as("doc_id"),
            col("meta.width"), col("meta.height"), col("meta.channels"))
          .orderBy("doc_id")
      },
      // octet_length: the stub reads payload BYTES (payload = UTF-8 of text)
      Some("""SELECT doc_id, CAST(16 + octet_length(encode(text)) % 16 AS INT) AS width,
        |CAST(16 + (octet_length(encode(text)) * 7) % 16 AS INT) AS height, 3 AS channels
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // resize: nearest-neighbor resample over the stub pixel layout to
    // 8×8×3; byte-EXACT cross-engine check — Spark sums the output bytes
    // with the native ByteSum kernel (one loop over the raw payload; the
    // hex-expansion HOF it replaces was the entire measured cost of this
    // entry), DuckDB recomputes the same sum through hex expansion (the
    // only byte access it has), with identical src-index math
    "mm_resize" -> Q(
      (s, dir) => {
        val media = TestStores.table(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        graft.multimodal.Multimodal.resizeImageStub(media, "doc_id", "payload", 8, 8)
          .select(col("id").as("doc_id"),
            length(col("resized")).cast("int").as("out_len"),
            graft.functions.GraftFunctions.byteSum(col("resized")).as("checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS len,
        |    16 + octet_length(encode(text)) % 16 AS w,
        |    16 + (octet_length(encode(text)) * 7) % 16 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(192 AS INT) AS out_len,
        |  CAST(list_sum(list_transform(range(192), i ->
        |    CASE WHEN (((((i//24)*h)//8)*w + ((((i//3)%8)*w)//8))*3 + (i%3)) < len
        |      THEN CAST(concat('0x', substr(hx,
        |        CAST((((((i//24)*h)//8)*w + ((((i//3)%8)*w)//8))*3 + (i%3))*2 + 1 AS INT), 2)) AS INT)
        |      ELSE 0 END)) AS BIGINT) AS checksum
        |FROM d ORDER BY doc_id""".stripMargin)),

    // frame sampling: one payload row → ceil(nFrames/stride) frame rows
    "mm_frame_sample" -> Q(
      (s, dir) => {
        val media = TestStores.table(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        graft.multimodal.Multimodal.sampleFrames(media, "doc_id", "payload", 32, 2)
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_frames"), max(col("frame_idx")).as("last_idx"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |CAST((octet_length(encode(text)) // 32 + 1) // 2 AS BIGINT) AS n_frames,
        |CAST(((octet_length(encode(text)) // 32 - 1) // 2) * 2 AS INT) AS last_idx
        |FROM documents WHERE octet_length(encode(text)) >= 32 ORDER BY doc_id""".stripMargin)),

    // feature extraction: payload → embedding via the pluggable model
    // runtime (mock CLIP); dim + unit-norm are the checkable contract
    "mm_feature_extract" -> Q(
      (s, dir) => {
        val media = TestStores.table(s, dir, "documents")
          .where(col("doc_id") < 20)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        graft.multimodal.Multimodal.extractImageFeatures(media, "doc_id", "payload")
          .select(col("id").as("doc_id"), size(col("embedding")).as("dim"),
            round(sqrt(aggregate(transform(col("embedding"),
              x => x.cast("double") * x.cast("double")),
              lit(0.0), (acc, x) => acc + x)), 4).as("norm"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 512 AS dim, CAST(1.0 AS DOUBLE) AS norm
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin)),

    // ---- ListStores / GetStore: catalog stats (SURVEY §2.1 #15-16) ----
    "vdb_list_stores" -> Q(
      (s, dir) => {
        val e = TestStores.engine(s, dir)
        import s.implicits._
        e.listStores().map(si => (si.name, si.len, si.dimension))
          .toDF("name", "len", "dimension").orderBy("name")
      },
      Some("""SELECT 'docs' AS name, COUNT(*) AS len, 1 AS dimension FROM documents
        |UNION ALL
        |SELECT 'emb', COUNT(*), 64 FROM embeddings ORDER BY name""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql))) => k -> sql }
}

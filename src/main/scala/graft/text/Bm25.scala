package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval — the classic inverted-index ranking function
  * (Robertson et al.; the Lucene `(1 + (N−df+0.5)/(df+0.5))` idf variant),
  * complementing the engine's vector search: per query, the top-k documents
  * by summed term scores
  *
  *   idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * over the query's distinct terms. The reference engine has no text
  * retrieval; this is a SURVEY §2.7 extension.
  */
object Bm25 {

  /** Top-k BM25 retrieval of `docs` for each row of `queries`.
    * Output: (qid, did, score, rank), score rounded to 4 places and the
    * rank computed ON the rounded score (ties by document id) so the
    * ordering is reproducible across engines regardless of float
    * summation order.
    *
    * Scale shape: the postings table is one narrow (doc, term-hash, tf)
    * row per distinct doc-term — vocabulary-bounded per doc, built with
    * one hash-groupBy whose map-side combine absorbs stopword skew. The
    * query term set broadcasts (queries are the small side by
    * construction), so the corpus-side postings are FILTERED to matching
    * terms without shuffling the corpus; document frequencies join on the
    * 8-byte term hash (bounded by the matched-postings set); corpus-level
    * N/avgdl ride the plan as a broadcast one-row aggregate. The only
    * corpus-wide shuffles are the postings groupBy and the final
    * per-(query, doc) score aggregation, both key-bounded. Term identity
    * is the 64-bit xxhash64 — token strings never ride a join (a
    * collision merges two terms' postings: retrieval noise, absent at
    * oracle scales).
    *
    * `broadcastQueries` picks the term-filter shape (the
    * [[graft.dedup.Dedup.removeBoilerplateLines]] `broadcastHot`
    * discipline): the broadcast arm (default) is right while the distinct
    * query-term set fits the broadcast budget (≲ ~10^7-10^8 hashes); a
    * both-sides-large batch retrieval passes `false` for a plain shuffled
    * join on the 8-byte term hash — one extra narrow shuffle, never a
    * failure. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("did"),
      TextOps.tokens(col(textCol)).as("tk"))
    // postings: (did, dl, term-hash, tf)
    val postings = toks
      .select(col("did"), size(col("tk")).as("dl"), explode(col("tk")).as("tok"))
      .groupBy(col("did"), col("dl"), xxhash64(col("tok")).as("ht"))
      .agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy("ht").agg(count(lit(1)).as("df"))
    val stats = toks.select(size(col("tk")).cast("double").as("dl"))
      .agg(count(lit(1)).as("N"), avg(col("dl")).as("avgdl"))
    // .distinct() after the explode: array_distinct only dedups WITHIN a
    // row, so a queries frame carrying duplicate qid rows would otherwise
    // double-count every term's contribution — the DuckDB oracle's
    // `SELECT DISTINCT qid, tok` and TopKJoin.queries both dedup
    // globally for exactly this reason. The frame is k-bounded per query,
    // so the extra exchange is negligible (and folds into the broadcast).
    val qterms = queries.select(col(qIdCol).as("qid"),
        explode(array_distinct(transform(TextOps.tokens(col(qTextCol)),
          t => xxhash64(t)))).as("ht"))
      .distinct()
    val idf = log(lit(1.0) +
      (col("N") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) / (col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = (if (broadcastQueries) broadcast(qterms) else qterms)
      .join(postings, Seq("ht"))
      .join(dfs, Seq("ht"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("did"), (idf * tfn).as("s"))
      .groupBy("qid", "did").agg(round(sum(col("s")), 4).as("score"))
    // bounded per-task fold: the candidate set per query is every doc
    // sharing a term — corpus-sized for common terms — and must never be
    // window-sorted (graft.ann.BoundedTopK; the cliff table is in
    // SCALE.md round 13). Ranking is over the ROUNDED score, same as the
    // window it replaces and the oracle's replay.
    graft.ann.BoundedTopK.topK(scored, "qid", "did", "score", k)
      .select(col("qid"), col("cid").as("did"), col("score"), col("rank"))
  }
}

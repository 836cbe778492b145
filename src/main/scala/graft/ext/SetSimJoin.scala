package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join: all document pairs whose token-set
  * Jaccard is >= a threshold, via prefix filtering (Bayardo et al.,
  * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al. PPJoin,
  * WWW'08) — the EXACT counterpart of the MinHash/LSH path in
  * [[Dedup]], which trades recall for a fixed candidate budget.
  *
  * Candidate generation uses the prefix-filter theorem: order every
  * doc's tokens by a single global order (document frequency ascending,
  * token ascending — rarest first), keep each doc's first
  * `n - ceil(t*n) + 1` tokens, and equi-join docs sharing a prefix
  * token. Any pair with Jaccard >= t is guaranteed to share a prefix
  * token under a consistent global order, so recall is exactly 1 —
  * no tuning knob, unlike LSH band counts. A length prune
  * (`min(na,nb) >= t * max(na,nb)`, a necessary condition of
  * Jaccard >= t) cuts candidates before the distinct.
  *
  * Scale shape: the global order needs no global rank — each doc sorts
  * its OWN tokens by the joined (df, token) key, a window partitioned by
  * doc id (never a single-partition window). Prefix tokens are by
  * construction the rarest in their doc, so the candidate join's key
  * skew is bounded by the df of rare tokens, not boilerplate; frequent
  * tokens appear only in suffixes, which never join. Verification
  * touches candidate pairs only, with per-doc sorted token arrays and a
  * codegen'd `array_intersect`. Worst-case output is inherently
  * quadratic when the corpus IS quadratically similar (every exact
  * algorithm's output is); for corpora where that is expected, use the
  * capped LSH path instead.
  */
object SetSimJoin {

  /** All (a_id, b_id, inter, usz, jaccard) with a_id < b_id and
    * `jaccard = |A∩B| / |A∪B| >= threshold`, where A/B are the SETS of
    * `toksCol` elements (any orderable atomic element type — words,
    * shingle hashes, ids). `inter`/`usz` are exact integers; `jaccard`
    * is their IEEE quotient. */
  def jaccardJoin(docs: DataFrame, idCol: String, toksCol: Column,
                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // The doc's distinct-token count rides the explode as a per-row
    // column (size() of the distinct array, long-cast), so the ranked
    // chain needs ONE window pass (row_number).
    val toks = tokenTable(docs, idCol, toksCol)
    val df = toks.groupBy("_tok").agg(count(lit(1)).as("_df"))
    val perDoc = Window.partitionBy("_id")
    val ranked = toks.join(df, "_tok")
      .withColumn("_rk", row_number().over(perDoc.orderBy(col("_df"), col("_tok"))))
    val prefix = ranked
      .where(col("_rk") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1)
    val a = prefix.select(col("_tok"), col("_id").as("a_id"), col("_n").as("_na"))
    val b = prefix.select(col("_tok"), col("_id").as("b_id"), col("_n").as("_nb"))
    val cands = a.join(b, Seq("_tok"))
      .where(col("a_id") < col("b_id") &&
        least(col("_na"), col("_nb")) >=
          lit(threshold) * greatest(col("_na"), col("_nb")))
      .select("a_id", "b_id").distinct()
    val sets = tokenSets(toks)
    cands
      .join(sets.select(col("_id").as("a_id"), col("_set").as("_sa"),
        col("_n").as("_na")), "a_id")
      .join(sets.select(col("_id").as("b_id"), col("_set").as("_sb"),
        col("_n").as("_nb")), "b_id")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double"))
      .withColumn("jaccard",
        col("_inter") / (col("_na") + col("_nb") - col("_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("_inter").cast("long").as("inter"),
        (col("_na") + col("_nb") - col("_inter")).cast("long").as("usz"),
        col("jaccard"))
  }

  /** Exact DIRECTED containment self-join: all ordered pairs (a, b),
    * a ≠ b, with `|A∩B| / |A| >= threshold` — "at least t of A's tokens
    * appear in B", the asymmetric relation behind quote detection,
    * subset-document dedup and template extraction, where Jaccard fails
    * (a 50-token quote inside a 5000-token page has Jaccard ~0.01 but
    * containment 1.0).
    *
    * Prefix theorem, asymmetric form: |A∩B| >= ceil(t·|A|) forces A's
    * first `|A| - ceil(t·|A|) + 1` tokens (global rare-first order) to
    * intersect B — but B contributes ALL its tokens (its size gives no
    * prune: any B at least ceil(t·|A|) large can contain A). Recall is
    * exactly 1. Skew note: the join's hot side is B's full token list,
    * but a token only materialises pairs when it appears in some A's
    * PREFIX — boilerplate tokens live in suffixes, so their B-side rows
    * join against only the rare short docs that carry them in a prefix;
    * candidate volume is Σ_t df_prefix(t)·df(t), df_prefix being
    * rare-token-dominated like [[jaccardJoin]]'s. */
  def containmentJoin(docs: DataFrame, idCol: String, toksCol: Column,
                      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // Same single-window chain as [[jaccardJoin]]. B's side needs no
    // ranks: it reads the token table directly.
    val toks = tokenTable(docs, idCol, toksCol)
    val df = toks.groupBy("_tok").agg(count(lit(1)).as("_df"))
    val perDoc = Window.partitionBy("_id")
    val aPrefix = toks.join(df, "_tok")
      .withColumn("_rk", row_number().over(perDoc.orderBy(col("_df"), col("_tok"))))
      .where(col("_rk") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1)
      .select(col("_tok"), col("_id").as("a_id"), col("_n").as("_na"))
    val bAll = toks.select(col("_tok"), col("_id").as("b_id"), col("_n").as("_nb"))
    val cands = aPrefix.join(bAll, Seq("_tok"))
      .where(col("a_id") =!= col("b_id") &&
        col("_nb") >= ceil(lit(threshold) * col("_na")))
      .select("a_id", "_na", "b_id").distinct() // _na is a function of a_id
    // both sides read the same (_id, _set) columns, so one set table
    // broadcast serves both joins
    val sets = tokenSets(toks)
    cands
      .join(sets.select(col("_id").as("a_id"), col("_set").as("_sa")), "a_id")
      .join(sets.select(col("_id").as("b_id"), col("_set").as("_sb")), "b_id")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double"))
      .withColumn("containment", col("_inter") / col("_na"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("_inter").cast("long").as("inter"),
        col("_na").cast("long").as("a_size"),
        col("containment"))
  }

  /** One `(_id, _n, _tok)` row per distinct token per doc, hash-partitioned
    * on `_id`: the ONE materialised token table every branch of a join
    * reads (guide §8). The doc-keyed exchange carries longs only, already
    * satisfies the rank window's and the set aggregate's partitioning, and
    * is the barriered reuse anchor, so the scan + tokenize + shingle
    * hashing (the operator's dominant per-row cost) runs once however
    * each branch prunes. The barrier under the explode keeps the
    * explode's inferred `size(_ts) > 0` filter on the hashed column
    * instead of re-hashing inside the scan filter. Null ids never pair
    * (equi-join semantics) and are dropped before the corpus pass, so
    * they do not weigh on token document frequencies. */
  private def tokenTable(docs: DataFrame, idCol: String,
                         toksCol: Column): DataFrame = {
    val spark = docs.sparkSession
    val nPart = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val hashed = graft.Barrier.of(docs
      .where(col(idCol).isNotNull)
      .select(col(idCol).as("_id"), array_distinct(toksCol).as("_ts")))
    graft.Barrier.of(hashed
      .select(col("_id"), size(col("_ts")).cast("long").as("_n"),
        explode(col("_ts")).as("_tok"))
      .repartition(nPart, col("_id")))
  }

  /** Per-doc sorted token set and its size. Tokens are distinct per doc,
    * so sort_array(collect_list) is the exact sorted set; the aggregate
    * rides the token table's `_id` partitioning. */
  private def tokenSets(toks: DataFrame): DataFrame =
    toks.groupBy(col("_id"))
      .agg(sort_array(collect_list(col("_tok"))).as("_set"),
        max(col("_n")).as("_n"))

  /** DuckDB oracle for [[containmentJoin]]: inverted-index directed join
    * (independent realisation). */
  def containmentJoinOracleSql(toksRel: String, threshold: Double): String =
    s"""_t AS (SELECT _id, _tok FROM $toksRel),
       | _sz AS (SELECT _id, count(*) AS _n FROM _t GROUP BY 1),
       | _pairs AS (SELECT x._id AS a_id, y._id AS b_id, count(*) AS _inter
       |   FROM _t x JOIN _t y ON x._tok = y._tok AND x._id <> y._id
       |   GROUP BY 1, 2),
       | _out AS (SELECT a_id, b_id, _inter AS inter, sa._n AS a_size,
       |     CAST(_inter AS DOUBLE) / sa._n AS containment
       |   FROM _pairs JOIN _sz sa ON sa._id = a_id
       |   WHERE CAST(_inter AS DOUBLE) / sa._n >=
       |     ${graft.expr.E.formatDouble(threshold)})"""
      .stripMargin.replace("\n", " ")

  /** DuckDB oracle: the inverted-index exact join (no prefix filter —
    * an INDEPENDENT realisation, so the comparison checks semantics,
    * not a mirrored plan). `toksRel` is a relation exposing one
    * `(_id, _tok)` row per distinct token per doc; the caller wraps
    * with ordering. */
  def jaccardJoinOracleSql(toksRel: String, threshold: Double): String =
    s"""_t AS (SELECT _id, _tok FROM $toksRel),
       | _sz AS (SELECT _id, count(*) AS _n FROM _t GROUP BY 1),
       | _pairs AS (SELECT x._id AS a_id, y._id AS b_id, count(*) AS _inter
       |   FROM _t x JOIN _t y ON x._tok = y._tok AND x._id < y._id
       |   GROUP BY 1, 2),
       | _jj AS (SELECT a_id, b_id, _inter AS inter,
       |     sa._n + sb._n - _inter AS usz,
       |     CAST(_inter AS DOUBLE) / (sa._n + sb._n - _inter) AS jaccard
       |   FROM _pairs
       |   JOIN _sz sa ON sa._id = a_id JOIN _sz sb ON sb._id = b_id),
       | _out AS (SELECT a_id, b_id, inter, usz, jaccard FROM _jj
       |   WHERE jaccard >= ${graft.expr.E.formatDouble(threshold)})"""
      .stripMargin.replace("\n", " ")
}

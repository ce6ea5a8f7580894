package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The warehouse layer (reference: Snowflake `<CHANNEL>_RAW` tables,
  * truncate+reload with auto-create fallback —
  * /root/reference/dags/extract.py:156-171, W2/W3).
  *
  * Spark mapping: `mode("overwrite").saveAsTable` is truncate+reload and
  * auto-create in one idempotent operation; the catalog replaces
  * Snowflake's information schema.
  */
object Warehouse {

  /** W2: truncate + insert (or auto-create on first load), in one Spark
    * job. The table gets one file per `spark.sql.files.maxPartitionBytes`
    * of input (at least one), however many files the input has: a lake
    * channel holds one small file per batch, and without the coalesce
    * every batch file would become a RAW file and then a mart task.
    */
  def loadRaw(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    clearStaleLocation(spark, table)
    val inBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val files = ((inBytes + maxBytes - 1) / maxBytes).max(1).min(Int.MaxValue).toInt
    df.coalesce(files).write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** W3: the optimized_extract.py:106-107 variant — head(5) + append w/
    * auto-create. Preserved as a labeled variant (its 5-row truncation is
    * reference behavior, not something to generalize).
    */
  def loadRawHead5(df: DataFrame, table: String): Unit = {
    clearStaleLocation(df.sparkSession, table)
    df.limit(5).write.mode("append").format("parquet").saveAsTable(table)
  }

  /** The in-memory catalog forgets tables across sessions while their
    * managed locations persist on disk; saveAsTable then refuses to
    * create the "new" table (LOCATION_ALREADY_EXISTS). The reference's
    * load is truncate+reload-with-auto-create (extract.py:167-171) —
    * i.e., tolerant of preexisting state — so a location that the
    * catalog does not know about is stale output to clear.
    */
  private def clearStaleLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val parts = table.split('.')
      val (db, tbl) =
        if (parts.length == 2) (parts(0), parts(1)) else ("default", parts(0))
      try {
        val loc = new org.apache.hadoop.fs.Path(
          spark.catalog.getDatabase(db).locationUri + "/" + tbl)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) { fs.delete(loc, true); () }
      } catch { case _: org.apache.spark.sql.AnalysisException => () } // db absent
    }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Incremental latest-wins UPSERT — the incremental sibling of the
    * reference's truncate+reload (W2, extract.py:167-171): MERGE INTO
    * semantics expressed as union + per-key top-1. Each key keeps the
    * row with the greatest `versionCol`; a version tie goes to the
    * update side (the MERGE "WHEN MATCHED" contract). Callers must not
    * ship two updates for one (key, version) — that tie would be
    * arbitrary.
    *
    * Scale shape: ONE shuffle on the key columns (the row_number
    * window); keys are near-unique so per-key sort state is O(1). At
    * 100 TB, land the target bucketed on the key (loadBucketed) so the
    * repeated nightly merge reuses the bucketing instead of
    * re-shuffling the full target each run — the whole point of not
    * rebuilding the mart from scratch.
    */
  def upsert(target: DataFrame, updates: DataFrame, keyCols: Seq[String],
             versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val tagged = target.withColumn("is_upd", lit(0))
      .unionByName(updates.withColumn("is_upd", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("is_upd").desc)
    tagged.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_upd")
  }

  /** Incremental AGGREGATE maintenance — the aggregate sibling of
    * `upsert`: the warehouse stores per-key aggregates as ALGEBRAIC
    * PARTIALS (count + integral sum, the mergeable form), and each new
    * batch merges in O(|batch| distinct keys) instead of recomputing
    * over 100 TB of history. `aggState` builds the partial form from
    * raw rows; `mergeAggState` folds any number of partial states into
    * one — associative and commutative, so nightly batches, backfills,
    * and region-parallel states all combine the same way.
    *
    * Values are carried as INTEGRAL basis points (callers pre-convert
    * with round(value·10⁴)): long addition is exact and
    * order-independent, so the merged state is bit-identical to a full
    * recompute — the property that makes incremental maintenance
    * auditable at all (float sums would drift with merge order).
    *
    * Scale shape: one map-side-combined shuffle per call, keyed on the
    * aggregation key; the state table never rescans history.
    */
  def aggState(df: DataFrame, keyCols: Seq[String],
               valueBp: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(valueBp).as("total_bp"))
  }

  def mergeAggState(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(states.nonEmpty, "mergeAggState needs at least one state")
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("n_rows").as("n_rows"), sum("total_bp").as("total_bp"))
  }

  /** Incremental view maintenance with RETRACTIONS: apply a CDC batch
    * of inserts ('I') and deletes ('D') to a stored aggregate state —
    * the half of IVM [[mergeAggState]] cannot do, and the reason the
    * state is kept as ALGEBRAIC partials (count + integral sum): both
    * are abelian-group aggregates, so a delete is just a merge with
    * negated contributions. Max/min would NOT survive this — that's a
    * documented property of the chosen state, not an accident.
    *
    * Keys whose row count reaches zero are dropped from the state
    * (a fully-retracted group must disappear, not linger as a
    * 0-count row that a recompute would never produce). Deleting more
    * rows than exist is the caller's CDC-feed bug; the negative
    * n_rows it produces is surfaced, never silently clamped.
    *
    * Scale shape: one key-keyed exchange over state ∪ signed batch —
    * identical to the add-only merge; O(|state| + |batch|).
    */
  def applyAggDelta(state: DataFrame, batch: DataFrame,
                    keyCols: Seq[String], op: org.apache.spark.sql.Column,
                    valueBp: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val sign = when(op === "D", lit(-1L)).otherwise(lit(1L))
    val signed = batch.select(
      keyCols.map(col) ++ Seq(sign.as("n_rows"),
        (sign * valueBp).as("total_bp")): _*)
    state.unionByName(signed)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("n_rows").as("n_rows"), sum("total_bp").as("total_bp"))
      .filter(col("n_rows") =!= 0)
  }

  /** JOIN-view incremental maintenance with signed deltas — the
    * BILINEAR half of IVM that [[applyAggDelta]]'s per-key algebra
    * cannot express: a maintained view over A ⋈ B updates under
    * batches of inserts AND retractions on BOTH sides via
    * Δ(A⋈B) = ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB, with pair multiplicity =
    * product of the row signs (so a delete–delete pair correctly
    * cancels the two single-sided retractions). The merged state
    * equals the from-scratch join on the post-change tables — long
    * addition commutes, so the equality is exact and the oracle can
    * recompute the truth its own way.
    *
    * Scale shape: this is why a 100 TB join view is maintainable at
    * all — the standing V₀ is stored state (computed once; here it is
    * recomputed because the bench measures the whole program), and
    * every per-batch term joins a DELTA (bounded by the ingest batch,
    * broadcast) against a base scan or another delta: delta-sized
    * cost, never a re-join of the bases. Union branches are
    * select-normalized before unionAll (multi-key joins reorder
    * columns).
    *
    * `da`/`db` carry a `sign` column (+1 insert, −1 retraction whose
    * attributes must equal the retracted base row); `groupCols` come
    * from the A side, `valueBp` from the B side.
    */
  def joinViewDelta(a0: DataFrame, da: DataFrame, b0: DataFrame,
                    db: DataFrame, key: String, groupCols: Seq[String],
                    valueBp: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val aD = da.withColumnRenamed("sign", "__sa")
    val a0s = a0.withColumn("__sa", lit(1L))
    // Pre-aggregate the B side per join key BEFORE any join (r15, guide
    // §2.3 "aggregate before you shuffle"): every output aggregate only
    // ever consumes Σ sign and Σ sign·value of the B rows sharing a key
    // — Σ_pairs sa·sb = Σ_a sa·(Σ_b sb) and Σ_pairs sa·sb·v =
    // Σ_a sa·(Σ_b sb·v) by distributivity, exact in long arithmetic —
    // so the join can move one (Σsb, Σsb·v) row per key instead of
    // every B row. At sf0.1 that turns the V₀ join from 135k orders ⋈
    // 540k lineitems (SMJ of the wide side, 540k-row downstream agg)
    // into 135k ⋈ ≈135k pre-combined keys; at 100 TB it is the
    // difference between shuffling the fact table and shuffling its
    // per-key partial. NULL values keep their old semantics: sum()
    // skips them on both paths, and the pair COUNT never did (sb
    // counts the row whether or not v is NULL).
    def bAgg(b: DataFrame, sign: org.apache.spark.sql.Column): DataFrame =
      b.select(col(key), sign.as("__sb"), valueBp.as("__v"))
        .groupBy(key)
        .agg(sum("__sb").as("__nb"), sum(col("__sb") * col("__v")).as("__vb"))
    val b0A = bAgg(b0, lit(1L))
    val dbA = bAgg(db, col("sign"))
    def contrib(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, key).select(
        groupCols.map(col) ++ Seq((col("__sa") * col("__nb")).as("__n"),
          (col("__sa") * col("__vb")).as("__tv")): _*)
    val delta = contrib(broadcast(aD), b0A)
      .unionAll(contrib(a0s, broadcast(dbA)))
      .unionAll(contrib(broadcast(aD), broadcast(dbA)))
    val dAgg = delta.groupBy(groupCols.map(col): _*)
      .agg(sum("__n").as("n_rows"), sum("__tv").as("total_bp"))
    val v0 = contrib(a0s, b0A)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("__n").as("n_rows"), sum("__tv").as("total_bp"))
    mergeAggState(Seq(v0, dAgg), groupCols)
      .filter(col("n_rows") =!= 0)
  }

  /** COUNT(DISTINCT) view maintenance under signed deltas — the IVM
    * case neither [[applyAggDelta]] nor [[joinViewDelta]] covers: a
    * distinct count is NOT an abelian-group aggregate (a delete cannot
    * be applied to the count itself — whether it decrements depends on
    * whether OTHER rows still carry the value), so the maintained state
    * must be the per-(group, value) SUPPORT table (sum of row signs).
    * The view derives from it: n_distinct = |values with support > 0|.
    * Negative merged support is IMPOSSIBLE under consistent deltas
    * (every retraction re-emits an existing row) and is SURFACED per
    * group as `n_neg_support` rather than clamped — the q200 discipline
    * of letting impossible state reach the output where a test or an
    * oracle mismatch will catch it.
    *
    * Scale shape: per-batch cost is delta-sized — one agg over the
    * batch plus a keyed merge against the stored support table (here
    * the base side is recomputed because the bench measures the whole
    * program); the distinct rollup in production touches only groups
    * present in the batch. The whole maintenance path is JOIN-FREE:
    * two partial-combined aggregates and one keyed merge.
    *
    * `delta` carries `sign` (+1 insert, −1 retraction of an existing
    * base row). Output per group: n_distinct, n_neg_support, n_rows
    * (surviving multiplicity); groups with no surviving rows and no
    * anomaly vanish, matching a from-scratch recompute.
    */
  def distinctViewDelta(base: DataFrame, delta: DataFrame,
                        groupCols: Seq[String],
                        value: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val s0 = supportState(
      base.withColumn("sign", lit(1L)), groupCols, value)
    val ds = supportState(delta, groupCols, value)
    distinctViewFromSupport(
      mergeSupportState(Seq(s0, ds), groupCols), groupCols)
  }

  /** Per-(group, value) SUPPORT partial of one signed batch — the
    * distinct-IVM state unit ([[distinctViewDelta]]'s header). `delta`
    * carries `sign` (+1 insert, −1 retraction); the partial is the
    * per-key sign sum, map-side combined. Support addition is abelian,
    * so partials from any batch split merge to the same state
    * ([[mergeSupportState]]) — which is what makes the state
    * PERSISTABLE per batch under the BatchState discipline: write each
    * batch's merged state to parquet, and maintenance per batch costs
    * one delta-sized agg plus a keyed merge against the stored table —
    * the base corpus is never re-scanned (q270's plan contract).
    */
  def supportState(delta: DataFrame, groupCols: Seq[String],
                   value: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = (groupCols :+ "__v").map(col)
    delta.select(groupCols.map(col) :+ value.as("__v")
        :+ col("sign").cast("long").as("sign"): _*)
      .groupBy(keys: _*).agg(sum("sign").as("support"))
  }

  /** Merge support partials/states by key addition (abelian — order
    * and batch split invariant). Inputs are select-normalized before
    * the union (the round-10 positional-union lesson).
    *
    * Keys whose merged support lands at exactly 0 are COMPACTED away:
    * an absent key is semantically identical to a zero-support key
    * for both the derived view ([[distinctViewFromSupport]] counts
    * support > 0 and support < 0 only; n_rows sums are unchanged by
    * dropping zeros) and every future merge (adding 0 is the
    * identity). Without this, a persisted state under
    * retraction-heavy churn grows with total-EVER-distinct values —
    * the snapshot COUNT is bounded by BatchState.gc but the snapshot
    * SIZE would not be (round-11 ADVICE). Negative support is kept:
    * it is the anomaly signal distinctViewFromSupport surfaces.
    */
  def mergeSupportState(states: Seq[DataFrame],
                        groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = (groupCols :+ "__v").map(col)
    states.map(_.select(keys :+ col("support"): _*))
      .reduce(_ unionAll _)
      .groupBy(keys: _*).agg(sum("support").as("support"))
      .filter(col("support") =!= 0L)
  }

  /** Derive the distinct-count view from a support table:
    * n_distinct = |values with support > 0| per group, negative
    * support SURFACED per group (never clamped — impossible under
    * consistent deltas, so it must reach the output where a test or
    * oracle mismatch will catch it), n_rows = surviving multiplicity.
    * Groups with no surviving rows and no anomaly vanish, matching a
    * from-scratch recompute.
    */
  def distinctViewFromSupport(support: DataFrame,
                              groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    support.groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("support") > 0, lit(1L)).otherwise(lit(0L)))
          .as("n_distinct"),
        sum(when(col("support") < 0, lit(1L)).otherwise(lit(0L)))
          .as("n_neg_support"),
        sum(col("support")).as("n_rows"))
      .filter(col("n_distinct") =!= 0 || col("n_neg_support") =!= 0)
  }

  /** Bucketed write: pay the shuffle ONCE at write time — `numBuckets`
    * files per partition, hash-clustered and sorted on `key` — so every
    * later equi-join or aggregation on `key` between co-bucketed tables
    * runs exchange-free (Catalyst recognizes HashClusteredDistribution
    * from the bucket spec). This is the 100 TB pattern for fact-fact
    * joins too big to broadcast and repeated often enough to amortize
    * the write: at 1000 executors a re-shuffle of both sides dominates
    * the join; co-bucketing removes it entirely (BucketJoinSpec proves
    * the plan property).
    */
  def loadBucketed(df: DataFrame, table: String, key: String,
                   numBuckets: Int): Unit = {
    clearStaleLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, key).sortBy(key)
      .saveAsTable(table)
  }
}

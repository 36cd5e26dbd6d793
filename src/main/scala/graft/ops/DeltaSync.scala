package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Incremental delta sync (SURVEY.md §2.D #49; reference
  * delta_import/delta_import_on_primary_keys.sql:7-481): read the
  * target's watermark `max(delta_col)`, pull only source rows with
  * `delta_col >= watermark`, and MERGE them into the target on the
  * primary key (matched → update non-key columns, not matched →
  * insert).
  *
  * Delta Lake is not on this classpath, so MERGE is implemented as the
  * full-outer-join rewrite behind [[merge]] (SURVEY.md §7.4.5
  * MergeExecutor): one shuffle on the PK for target and delta each —
  * at 100 TB the delta side is small by construction (that is the
  * point of the watermark), so AQE turns this into a broadcast join of
  * delta against the bucketed/partitioned target.
  *
  * The watermark is *not* collected to the driver: it is a 1-row agg
  * crossJoin-broadcast into the filter, keeping the whole pipeline
  * declarative (and letting the JDBC-source variant push
  * `delta >= wm` down to the source as the reference does,
  * delta_import:421).
  */
object DeltaSync {
  import Fixtures._

  /** MERGE target←delta on `keys`: delta rows win on key match
    * (UPDATE), unmatched delta rows are inserted, unmatched target
    * rows are kept. Pure full-outer-join rewrite, no table format
    * required.
    */
  def merge(target: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.alias("t")
    val dl = delta.alias("d")
    val cond = keys.map(k => col(s"t.$k") === col(s"d.$k")).reduce(_ && _)
    // "Matched" = the delta side is present (keys are non-null by
    // contract). Matched/inserted rows take ALL delta values — not a
    // per-column coalesce, which would silently keep stale target
    // values wherever the update carries a legitimate NULL.
    val matched = col(s"d.${keys.head}").isNotNull
    val cols = target.columns.map { c =>
      when(matched, col(s"d.$c")).otherwise(col(s"t.$c")).as(c)
    }
    t.join(dl, cond, "full_outer").select(cols.toSeq: _*)
  }

  /** MERGE tolerant of schema drift between source and target
    * (reference delta_import_on_primary_keys.sql:95-161: the optional
    * source∩target column intersection before the MERGE is built).
    * Updates and inserts touch only the columns PRESENT ON BOTH
    * sides; key columns are mandatory in the intersection.
    * Target-only columns keep their target values on matched rows and
    * are NULL on inserted rows; source-only columns are dropped —
    * exactly the reference's behavior when the source has drifted.
    */
  def mergeIntersect(target: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val deltaCols = delta.columns.toSet
    val common = target.columns.filter(deltaCols.contains).toSet
    require(keys.forall(common.contains), s"key columns $keys must exist on both sides")
    val t = target.alias("t")
    val dl = delta.alias("d")
    val cond = keys.map(k => col(s"t.$k") === col(s"d.$k")).reduce(_ && _)
    val matched = col(s"d.${keys.head}").isNotNull
    val cols = target.columns.map { c =>
      if (common.contains(c)) when(matched, col(s"d.$c")).otherwise(col(s"t.$c")).as(c)
      else col(s"t.$c").as(c) // target-only: kept on match, NULL on insert
    }
    t.join(dl, cond, "full_outer").select(cols.toSeq: _*)
  }

  /** Watermark rows of `source` strictly at/after the max of
    * `deltaCol` in `target` (reference: re-imports the boundary value
    * too, `WHERE delta >= max` — delta_import:421).
    */
  def deltaRows(source: DataFrame, target: DataFrame, deltaCol: String): DataFrame = {
    val wm = target.agg(max(col(deltaCol)).as("__wm"))
    source.crossJoin(broadcast(wm)).filter(col(deltaCol) >= col("__wm")).drop("__wm")
  }

  /** End-to-end: target = orders before 1998, source = all orders;
    * delta = watermark read; merged = MERGE on o_orderkey.
    */
  val mergeUpsert: Q = (s, d) => {
    val all = orders(s, d)
    val target = all.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val delta = deltaRows(all, target, "o_orderdate")
    merge(target, delta, Seq("o_orderkey"))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s")
      )
      .orderBy("o_orderkey")
  }

  /** Drifted-source variant: the delta feed lost `o_orderpriority`
    * and gained a column the target does not have. The MERGE touches
    * only the intersection — priorities survive on matched rows, are
    * NULL on inserted rows, and the source-only column never reaches
    * the target.
    */
  val mergeIntersectUpsert: Q = (s, d) => {
    val all = orders(s, d)
    val target = all.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val delta = deltaRows(all, target, "o_orderdate")
      .drop("o_orderpriority")
      .withColumn("src_extra", lit("drifted"))
    mergeIntersect(target, delta, Seq("o_orderkey"))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderstatus"),
        col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s")
      )
      .orderBy("o_orderkey")
  }

  /** COMMUTATIVE CDC apply — one merge step of a change feed into a
    * keyed state table: state ∪ batch collapses to the HIGHEST-seq row
    * per key, with deletes carried as TOMBSTONE rows (is_deleted = 1)
    * rather than removed. Because max-by-seq is associative and
    * commutative, the final state is independent of how the feed is
    * batched — which is exactly what lets the streaming route replay
    * micro-batches in any file order and still hash-match the one-shot
    * fold (readers filter tombstones). One key-keyed aggregate per
    * step; at scale the state side arrives bucketed by key and the
    * delta is small by construction (the watermark argument of
    * [[merge]]).
    */
  def applyOps(
      state: DataFrame,
      batch: DataFrame,
      keyCol: String,
      seqCol: String,
      valueCols: Seq[String]
  ): DataFrame = {
    val carried = seqCol +: "is_deleted" +: valueCols
    state
      .unionByName(batch)
      .groupBy(col(keyCol))
      .agg(max(struct(carried.map(col): _*)).as("m"))
      .select(col(keyCol) +: carried.map(c => col(s"m.$c").as(c)): _*)
  }

  /** SNAPSHOT DIFF audit — what changed between two corpus versions
    * (the review a sync/merge run cites): every doc id labeled added /
    * removed / changed / unchanged by key-presence + content-hash
    * comparison. One full-outer join on the id carrying 16-byte
    * hashes, never row content; statuses are a pure function of the
    * two snapshots, so the view works for any (id, content) pair of
    * frames — corpus crawls, migrated tables, index generations.
    */
  def snapshotDiff(
      old: DataFrame,
      newer: DataFrame,
      idCol: String,
      contentCol: String
  ): DataFrame = {
    val o = old.select(col(idCol).as("id"), md5(col(contentCol).cast("binary")).as("oh"))
    val n = newer.select(col(idCol).as("id"), md5(col(contentCol).cast("binary")).as("nh"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn(
        "status",
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") === col("nh"), "unchanged")
          .otherwise(lit("changed"))
      )
      .select(col("id").as("doc_id"), col("status"))
  }

  /** Fixture versions: the old snapshot is the even docs verbatim;
    * the new snapshot keeps docs with id % 3 ≠ 0 and rewrites the
    * text of every id % 5 = 0 survivor (a re-crawl edit). So an even
    * id divisible by 3 reads `removed`, an odd id not divisible by 3
    * reads `added`, an even % 5 survivor reads `changed`.
    */
  val snapshotDiffQ: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 2 === 0)
    val newer = docs
      .filter(col("doc_id") % 3 =!= 0)
      .withColumn(
        "text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2"))).otherwise(col("text"))
      )
    snapshotDiff(old, newer, "doc_id", "text").orderBy("doc_id")
  }

  lazy val registry: Seq[Query] = Seq(
    Query("snapshot_diff", snapshotDiffQ,
      """WITH o AS (
        |  SELECT doc_id AS id, md5(text) AS oh FROM documents WHERE doc_id % 2 = 0),
        |n AS (
        |  SELECT doc_id AS id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS nh
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT coalesce(o.id, n.id) AS doc_id,
        |  CASE WHEN o.oh IS NULL THEN 'added'
        |       WHEN n.nh IS NULL THEN 'removed'
        |       WHEN o.oh = n.nh THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |ORDER BY doc_id""".stripMargin),
    Query("delta_merge_upsert", mergeUpsert,
      """WITH tgt AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |wm AS (SELECT max(o_orderdate) AS m FROM tgt),
        |delta AS (SELECT o.* FROM orders o, wm WHERE o.o_orderdate >= wm.m)
        |SELECT coalesce(d.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |       strftime(CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderdate ELSE t.o_orderdate END, '%Y-%m-%d') AS o_orderdate_s
        |FROM tgt t FULL JOIN delta d ON t.o_orderkey = d.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),
    Query("delta_merge_intersect", mergeIntersectUpsert,
      """WITH tgt AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |wm AS (SELECT max(o_orderdate) AS m FROM tgt),
        |delta AS (SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate
        |          FROM orders o, wm WHERE o.o_orderdate >= wm.m)
        |SELECT coalesce(d.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |       t.o_orderpriority AS o_orderpriority,
        |       strftime(CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderdate ELSE t.o_orderdate END, '%Y-%m-%d') AS o_orderdate_s
        |FROM tgt t FULL JOIN delta d ON t.o_orderkey = d.o_orderkey
        |ORDER BY o_orderkey""".stripMargin)
  )
}

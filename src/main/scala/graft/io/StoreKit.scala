package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The plumbing every persisted-gate store shares —
 * [[graft.operators.DedupIndex]] (text LSH), [[graft.multimodal
 * .MediaIndex]] (perceptual codes, which [[graft.multimodal
 * .AudioHash]] parameterizes), [[EdgeStore]] (link graph) and
 * [[graft.operators.AnnIndex]] all follow the same write/gate/upsert/
 * compact lifecycle over [[StoreManifest]]-published versions of
 * [[BucketedTables]]. The per-family banding/verification logic stays
 * with each family; what lives here is the mechanical part that was
 * hand-rolled per store until r16.
 */
object StoreKit {

  /** Parquet data files under `dir` (recursive) — the before/after
    * measure every compact reports. 0 for a missing dir. */
  def parquetFileCount(spark: SparkSession, dir: String): Long = {
    val fs = StoreManifest.fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** The next version number of one versioned table — 1 on a path
    * that has never committed a manifest. Every store's write starts
    * here; the new `v<N>` dir stays invisible until the
    * [[StoreManifest.commit]] pointer-swap publishes it. */
  def nextVersion(spark: SparkSession, path: String, key: String): Int =
    StoreManifest.read(spark, path).fold(1)(_.getOrElse(key, 0) + 1)

  /** Drop catalog entries whose version directory is gone (superseded
    * versions reclaimed by the grace-window cleanup): `$path/$table/
    * v<k>` for k < `below`. Bucket metadata lives in the session
    * catalog, so a reclaimed dir leaves a dangling entry behind
    * otherwise. */
  def dropStaleEntries(
      spark: SparkSession, path: String, table: String, below: Int): Unit = {
    val fs = StoreManifest.fsOf(spark, path)
    (1 until below).foreach { k =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$table/v$k")))
        BucketedTables.dropEntry(spark, s"$path/$table/v$k")
    }
  }

  /** The standard POST-COMMIT cleanup of one published table whose
    * versions are named by their own manifest key: the one-snapshot
    * grace-window delete ([[StoreManifest.dropSuperseded]]) plus the
    * stale session-catalog sweep. `below` is the just-published
    * version. */
  def reclaim(spark: SparkSession, path: String, table: String, below: Int): Unit = {
    StoreManifest.dropSuperseded(spark, path, table)
    dropStaleEntries(spark, path, table, below)
  }

  /** Grace-window cleanup for stores whose SEVERAL table dirs share
    * ONE manifest version key ([[EdgeStore]]'s by_src/by_dst/vertices
    * all ride `edges`, so the per-table-key [[StoreManifest
    * .dropSuperseded]] cannot see them): delete `$path/$table/v<k>`
    * for k < `keepMin` with their catalog entries, then sweep entries
    * whose dir another session already reclaimed. */
  def reclaimBelow(
      spark: SparkSession, path: String, tables: Seq[String], keepMin: Int): Unit = {
    val fs = StoreManifest.fsOf(spark, path)
    for (t <- tables; k <- 1 until keepMin) {
      val dir = s"$path/$t/v$k"
      val hp = new org.apache.hadoop.fs.Path(dir)
      if (fs.exists(hp)) {
        fs.delete(hp, true)
        BucketedTables.dropEntry(spark, dir)
      }
    }
    tables.foreach(t => dropStaleEntries(spark, path, t, keepMin))
  }

  /** SNAPSHOT-STABLE gate verdicts (the discipline every ingest gate
    * shares): the drop-id frame — small, drop ids only — is cut
    * ([[graft.util.Caches.cut]]) so the returned survivors frame keeps
    * meaning "gated against the store AS OF THIS CALL" even after the
    * caller upserts the survivors back into the index (a lazy plan
    * would re-probe the grown store and self-match every batch row).
    * The cut lives until the caller's scope ends. */
  def snapshotStableSurvivors(
      batch: DataFrame, idCol: String, drops: DataFrame): DataFrame =
    batch.join(graft.util.Caches.cut(drops), Seq(idCol), "left_anti")

  /** The compact rewrite's INPUT: the current version dir as PLAIN
    * parquet, never the bucketed table — fed the bucketed scan,
    * Catalyst drops the writer's repartition as redundant, the
    * planner auto-disables the bucketed read (no exchange left to
    * avoid), and the rewrite degenerates to one output file per input
    * file: the exact small-file state compact exists to undo. The
    * plain read carries no partitioning claim, so the re-bucketing
    * shuffle really runs and the rewrite lands at exactly `buckets`
    * files. */
  def compactInput(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}

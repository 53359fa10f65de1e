package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Caches

/**
 * Persisted link-graph edge table, kept in TWO bucketed copies — one
 * by `src`, one by `dst` — so iterative graph algorithms
 * ([[graft.operators.PageRank]], [[graft.operators.Hits]]) load their
 * per-iteration join sides already co-located: the power iteration's
 * edges⋈ranks join keys on `src`, HITS' hub half-step on `dst`, and
 * with both copies bucketed on exactly those keys NO iteration — and
 * no cold restart — ever shuffles the edge table again; only the
 * node-sized score frame moves per round. This closes the loop the
 * in-memory operators document ("an edge table bucketed by src drops
 * in and saves even this one-time exchange", PageRank.scala): the
 * crawl-graph is written once per snapshot and re-read by every
 * ranking run after.
 *
 * The store is VERTEX-CLOSED at write time: [[write]] drops edges
 * whose endpoint is missing from the vertex set (the same closure
 * [[graft.operators.PageRank.run]] enforces — an open edge would
 * inflate its source's outdegree and leak rank mass). Versions are
 * published through the shared [[StoreManifest]] pointer commit:
 * both copies become visible in ONE commit, superseded versions are
 * reclaimed with the grace window.
 */
object EdgeStore {

  /** The manifest is (String → Int); the vertex count is a Long at
    * crawl scale, so it rides in two 31-bit halves. */
  private def nvKeys(n: Long): Map[String, Int] =
    Map("nv_lo" -> (n & 0x7fffffffL).toInt, "nv_hi" -> (n >>> 31).toInt)

  /** The vertex-set IDENTITY checksum rides the same two-halves idiom:
    * `bit_xor(xxhash64(id))` is order- and partition-independent (XOR
    * is commutative/associative), folded from 64 to 62 bits so it fits
    * two 31-bit manifest ints. A COUNT alone cannot tell two
    * different same-cardinality universes apart — the r15 guard hole:
    * a swapped node set passed silently and broke the Σ pr = 1
    * closure the guard exists to protect. */
  private def vxKeys(sig: Long): Map[String, Int] =
    Map("vx_lo" -> (sig & 0x7fffffffL).toInt,
      "vx_hi" -> ((sig >>> 31) & 0x7fffffffL).toInt)

  private def fold62(x: Long): Long = (x & 0x3fffffffffffffffL) ^ (x >>> 62)

  /** (count, set checksum) of one vertex-id frame — ONE aggregate
    * pass, the only whole-universe cost a write/upsert/guard pays. */
  private def universeOf(ids: DataFrame): (Long, Long) = {
    val r = ids.agg(count(lit(1)),
      expr("coalesce(bit_xor(xxhash64(id)), CAST(0 AS BIGINT))")).first()
    (r.getLong(0), fold62(r.getLong(1)))
  }

  /** The vertex count recorded at write/upsert time — the universe
    * every stored edge is closed against. None for pre-r15 stores. */
  def vertexCount(spark: SparkSession, path: String): Option[Long] = {
    val m = StoreManifest.current(spark, path)
    for (lo <- m.get("nv_lo"); hi <- m.get("nv_hi"))
      yield (hi.toLong << 31) | lo.toLong
  }

  /** The vertex-set checksum recorded at write/upsert time. None for
    * stores written before the checksum existed. */
  def vertexSig(spark: SparkSession, path: String): Option[Long] = {
    val m = StoreManifest.current(spark, path)
    for (lo <- m.get("vx_lo"); hi <- m.get("vx_hi"))
      yield (hi.toLong << 31) | lo.toLong
  }

  /** Fail loudly unless `nodes` IS the store's recorded vertex
    * universe — count AND set checksum (a same-count different-node
    * set must not pass: its out-of-set edges would silently skew any
    * preIndexed ranking run). Shared by [[graft.operators.PageRank
    * .runIndexed]] / [[graft.operators.Hits.runIndexed]]. */
  def requireSameUniverse(
      spark: SparkSession, path: String, nodes: DataFrame, idCol: String,
      who: String): Unit =
    vertexCount(spark, path).foreach { recorded =>
      val (n, sig) = universeOf(nodes.select(col(idCol).as("id")))
      require(n == recorded,
        s"$who: nodes has $n vertices but the EdgeStore at $path was " +
          s"closed against $recorded — pass the store's write-time " +
          "vertex set (out-of-set edges would break the score closure)")
      vertexSig(spark, path).foreach(rec => require(sig == rec,
        s"$who: nodes has the recorded cardinality ($n) but a DIFFERENT " +
          s"id set (checksum $sig vs recorded $rec) — pass the store's " +
          "write-time vertex set, not a same-sized substitute"))
    }

  /** Write one vertex-closed snapshot of `(src, dst)` edges. */
  def write(
      path: String, nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      buckets: Int = 8): Unit = {
    val spark = edges.sparkSession
    val ids = nodes.select(col(idCol).as("id"))
    val closed = Caches.persist(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi"))
    val v = StoreKit.nextVersion(spark, path, "edges")
    BucketedTables.write(closed, s"$path/by_src/v$v", "src", "src", buckets)
    BucketedTables.write(closed, s"$path/by_dst/v$v", "dst", "dst", buckets)
    // the vertex SET persists next to the edges (node-sized — tiny
    // relative to the edge copies): it is what lets upsert PROVE the
    // superset invariant instead of trusting count+checksum (which
    // cannot tell a grown set from a grown-but-swapped one)
    ids.write.mode("overwrite").parquet(s"$path/vertices/v$v")
    val (n, sig) = universeOf(ids)
    StoreManifest.commit(spark, path,
      Map("edges" -> v, "buckets" -> buckets, "vertices" -> v) ++
        nvKeys(n) ++ vxKeys(sig))
    dropBelow(spark, path, v - 1)
  }

  /** Grace-window cleanup shared by [[write]] and [[compact]] (all
    * three tables share the one `edges` version, so the cleanup is
    * [[StoreKit.reclaimBelow]], not the per-table-key dropSuperseded):
    * keep the immediately-previous snapshot for in-flight readers,
    * reclaim everything older. */
  private def dropBelow(spark: SparkSession, path: String, keepMin: Int): Unit =
    StoreKit.reclaimBelow(
      spark, path, Seq("by_src", "by_dst", "vertices"), keepMin)

  /** Append a day's new edges into the current snapshot — the crawl
    * pipeline's daily shape (edge list grows, vertices only ever
    * REGISTER, never unregister). The new edges are closed against
    * `nodes` exactly as [[write]] closes its corpus, and `nodes` must
    * be a SUPERSET of the write-time vertex set (checked by count —
    * a shrunk universe would strand already-stored edges outside it
    * and break the Σ pr = 1 closure invariant). Bucketed appends are
    * task-committed files; the manifest re-commits only to advance
    * the recorded vertex count. */
  def upsert(
      path: String, nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String): Unit = {
    val spark = edges.sparkSession
    val m = StoreManifest.current(spark, path)
    val ids = nodes.select(col(idCol).as("id"))
    val (n, sig) = universeOf(ids)
    vertexCount(spark, path).foreach { prev =>
      require(n >= prev,
        s"EdgeStore.upsert: vertex set shrank ($prev -> $n) — stored edges " +
          "would fall outside the universe; vertices may only be added")
      // superset with unchanged cardinality ⟺ the SAME set — so at
      // equal count the checksum must match exactly; a swapped
      // universe (the count-only guard's blind spot) fails loudly
      if (n == prev) vertexSig(spark, path).foreach(rec => require(sig == rec,
        s"EdgeStore.upsert: vertex count unchanged ($n) but the id set " +
          s"differs (checksum $sig vs recorded $rec) — vertices may only " +
          "be added, never swapped"))
    }
    // the COMPLETE superset proof (what count+checksum cannot give for
    // a strictly-grown set): every STORED vertex must still be in the
    // caller's universe — a node-sized anti-join against the persisted
    // vertex set, limit-probed (any single stray id fails). Pre-r16
    // stores have no vertices table; this upsert starts one, so the
    // proof holds from the next upsert on.
    val (v, buckets) = (m("edges"), m("buckets"))
    m.get("vertices") match {
      case Some(vv) =>
        val stored = spark.read.parquet(s"$path/vertices/v$vv")
        val stray = stored.join(ids, Seq("id"), "left_anti").limit(1).count()
        require(stray == 0L,
          s"EdgeStore.upsert: the caller's universe is missing stored " +
            "vertices — vertices may only be added, never dropped or swapped")
        // append only the DELTA (new \ stored): the persisted set grows
        // to equal the new universe without rewriting it. The delta is
        // cut FIRST — reading and appending the same parquet dir in one
        // job is formally undefined in Spark (task retries or
        // object-store listing could double-count or duplicate rows);
        // the cut severs the plan from the dir before the append
        // touches it (node-sized: the day's new ids)
        Caches.cut(ids.join(stored, Seq("id"), "left_anti"))
          .write.mode("append").parquet(s"$path/vertices/v$vv")
      case None => // legacy store: materialize the set going forward
        ids.write.mode("overwrite").parquet(s"$path/vertices/v$v")
    }
    val closed = Caches.persist(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi"))
    BucketedTables.append(closed, s"$path/by_src/v$v", "src", "src", buckets)
    BucketedTables.append(closed, s"$path/by_dst/v$v", "dst", "dst", buckets)
    StoreManifest.commit(spark, path,
      Map("edges" -> v, "buckets" -> buckets,
        "vertices" -> m.getOrElse("vertices", v)) ++ nvKeys(n) ++ vxKeys(sig))
  }

  /** The current snapshot's src-bucketed copy — zero-exchange side of
    * any join keyed on `src`. */
  def bySrc(spark: SparkSession, path: String): DataFrame = {
    val m = StoreManifest.current(spark, path)
    BucketedTables.read(spark, s"$path/by_src/v${m("edges")}",
      "src", "src", m("buckets"))
  }

  /** The current snapshot's dst-bucketed copy. */
  def byDst(spark: SparkSession, path: String): DataFrame = {
    val m = StoreManifest.current(spark, path)
    BucketedTables.read(spark, s"$path/by_dst/v${m("edges")}",
      "dst", "dst", m("buckets"))
  }

  /** One compaction summary from [[compact]] — parquet file counts of
    * BOTH bucketed copies combined. */
  final case class CompactReport(filesBefore: Long, filesAfter: Long)

  /** Physical maintenance: rewrite BOTH bucketed copies compacted
    * into fresh `v<N+1>` dirs and publish them in ONE manifest commit
    * (a year of daily [[upsert]]s otherwise leaves ~a file per day per
    * bucket in each copy — the [[graft.multimodal.MediaIndex.compact]]
    * pattern). The rewrites re-bucket, so each compacted copy is back
    * to exactly `buckets` files; the recorded vertex universe
    * (count + checksum) carries through unchanged, concurrent readers
    * resolve either the old or the new snapshot (never a mix), and the
    * superseded snapshot is reclaimed with the usual one-version grace
    * window. */
  def compact(spark: SparkSession, path: String): CompactReport = {
    import StoreKit.{compactInput, parquetFileCount}
    def files(dir: String): Long = parquetFileCount(spark, dir)
    val m = StoreManifest.current(spark, path)
    val (v, buckets) = (m("edges"), m("buckets"))
    val before = files(s"$path/by_src/v$v") + files(s"$path/by_dst/v$v")
    // plain-parquet rewrite inputs (see StoreKit.compactInput): each
    // copy lands back at exactly `buckets` files
    BucketedTables.write(
      compactInput(spark, s"$path/by_src/v$v"), s"$path/by_src/v${v + 1}",
      "src", "src", buckets)
    BucketedTables.write(
      compactInput(spark, s"$path/by_dst/v$v"), s"$path/by_dst/v${v + 1}",
      "dst", "dst", buckets)
    // the vertices table rides along (upsert appends node deltas —
    // compaction collapses them); a pre-r16 store simply has none yet
    val vertKeys = m.get("vertices") match {
      case Some(vv) =>
        compactInput(spark, s"$path/vertices/v$vv").coalesce(buckets)
          .write.mode("overwrite").parquet(s"$path/vertices/v${v + 1}")
        Map("vertices" -> (v + 1))
      case None => Map.empty[String, Int]
    }
    StoreManifest.commit(spark, path,
      Map("edges" -> (v + 1), "buckets" -> buckets) ++ vertKeys ++
        m.filter { case (k, _) => k.startsWith("nv_") || k.startsWith("vx_") })
    dropBelow(spark, path, v)
    CompactReport(before,
      files(s"$path/by_src/v${v + 1}") + files(s"$path/by_dst/v${v + 1}"))
  }
}

package graft.operators

import graft.functions.ScalarFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PerKeyAppend
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Greedy sequence packing: assign documents to fixed token-budget
 * "packs" (training batches), the standard pre-training step that
 * concatenates short documents up to the context length.
 *
 * Global first-fit is inherently sequential, so the distributed form
 * shards first: documents are hash-sharded by the portable md5 of
 * their id (engine-independent, so the SQL oracle reproduces the
 * sharding), then each shard packs GREEDILY in id order — a document
 * opens a new pack when adding it would exceed `budget`; a document
 * larger than the budget gets a pack of its own (never split). Each
 * shard is an independent streaming pass
 * (`org.apache.spark.sql.graft.PerKeyAppend`): one shuffle by shard,
 * O(1) state, no group materialization, and the output stays
 * partitioned by shard — 1000 executors pack 1000+ shards concurrently,
 * and adding shards trades a little packing efficiency for linear
 * scale-out.
 */
object Packing {

  /**
   * Per-document pack assignment: (id, n_tokens, shard, carry...,
   * pack_seq) where `pack_seq` is 1-based within the shard —
   * (shard, pack_seq) is the global pack key. `carryCols` ride
   * through the pass untouched (it reads only `n_tokens`), so
   * downstream consumers that need e.g. the text avoid a
   * corpus-to-corpus re-attach join.
   */
  def greedyPack(
      df: DataFrame, idCol: String, nTokensCol: String,
      budget: Long, numShards: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(numShards > 0, "numShards must be positive")
    // fail fast on null token counts: a null would otherwise surface as
    // an opaque NPE deep inside the per-shard pass
    val base = df.select(col(idCol) +:
      coalesce(col(nTokensCol).cast("long"),
        raise_error(concat(lit(s"greedyPack: null $nTokensCol for id "),
          col(idCol).cast("string")))).as("n_tokens") +:
      pmod(ScalarFunctions.md5Long(col(idCol).cast("string")), lit(numShards.toLong))
        .as("shard") +:
      carryCols.map(col): _*)
    // state = (tokens accumulated in the open pack, current pack seq);
    // pack 0 is the "nothing open yet" sentinel
    PerKeyAppend(base, "shard", Seq(idCol), Seq("n_tokens"),
        StructType(Seq(StructField("pack_seq", LongType, nullable = false)))) { (rows, _) =>
      var acc = 0L
      var pack = 0L
      rows.map { row =>
        val nt = row.getLong(0)
        if (pack == 0L || acc + nt > budget) { acc = nt; pack += 1 } else acc += nt
        Row(pack)
      }
    }
  }

  /**
   * Per-pack boundary metadata for the training data loader:
   * `doc_ids` (document order within the pack) and `doc_starts` (each
   * document's token offset inside the concatenated sequence — the
   * prefix sums of the packed token counts). This is what a loader
   * needs to build cross-document attention masks / reset position
   * ids at document boundaries without re-tokenizing.
   *
   * The per-pack collect is bounded by the token budget (plus at most
   * one oversize document), so no group can blow up a reducer; the
   * prefix sum runs INSIDE the row via `aggregate` over the sorted
   * struct array — no window, no second shuffle.
   */
  def packBoundaries(
      df: DataFrame, idCol: String, nTokensCol: String,
      budget: Long, numShards: Int): DataFrame =
    greedyPack(df, idCol, nTokensCol, budget, numShards)
      .groupBy("shard", "pack_seq")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        array_sort(collect_list(struct(col(idCol).as("id"), col("n_tokens").as("nt"))))
          .as("__s"))
      .select(
        col("shard"), col("pack_seq"), col("n_docs"), col("pack_tokens"),
        expr("transform(__s, x -> x.id)").as("doc_ids"),
        expr("""aggregate(__s,
                  struct(cast(array() as array<bigint>) as offs, cast(0 as bigint) as acc),
                  (st, x) -> struct(concat(st.offs, array(st.acc)) as offs, st.acc + x.nt as acc),
                  st -> st.offs)""").as("doc_starts"))

  /** Pack-level roll-up of [[greedyPack]]: docs per pack, token fill,
    * fill fraction against the budget (> 1 only for single oversize
    * documents). */
  def packStats(assignments: DataFrame, budget: Long): DataFrame =
    assignments.groupBy("shard", "pack_seq")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"))
      .withColumn("fill_frac", round(col("pack_tokens").cast("double") / budget, 6))

  /**
   * Materialized training sequences: assign documents to packs
   * ([[greedyPack]] over a token count derived from the text), then
   * concatenate each pack's texts in document-id order with `sep`
   * between them — the final "write the pretokenization input"
   * step. Returns (shard, pack_seq, n_docs, pack_tokens, packed_text).
   *
   * The text CARRIES THROUGH the pack pass (no corpus-to-corpus
   * re-attach join), and the pass keeps its input's shard
   * partitioning, so the shard exchange is the only shuffle: the
   * groupBy((shard, pack_seq)) runs on it; pack text size is bounded
   * by the token budget (plus one oversize doc at most), so no group
   * can blow up a reducer.
   */
  def packedText(
      docs: DataFrame, idCol: String, textCol: String,
      budget: Long, numShards: Int,
      sep: String = "\n<|endofdoc|>\n"): DataFrame = {
    val withCounts = docs.select(
      col(idCol), col(textCol),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"))
    greedyPack(withCounts, idCol, "__nt", budget, numShards, carryCols = Seq(textCol))
      .groupBy("shard", "pack_seq")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col(idCol), col(textCol)))),
            s => s.getField(textCol))).as("packed_text"))
  }
}

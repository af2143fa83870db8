package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Golden-output fingerprinting (SURVEY A12,
  * `tools/zarrChecksum/checksum.py:145-189`).
  *
  * The reference fingerprints an entire store by hashing every file, sorting
  * by key, and folding the hashes into a single digest — an order-sensitive
  * reduce used to compare runs. Here the fold is hierarchical BY DEFAULT so
  * the gate query and the 100 TB path are the same code: rows hash to md5,
  * rows group into 16^`prefixLen` blocks keyed by the row-hash prefix (a
  * deterministic function of row content — no global sort needed to form
  * blocks), each block folds its hashes in key order, and the final digest
  * folds the per-block digests in block order. Level 1 is a hash-partitioned
  * aggregate over 32-byte digests; only `blocks` rows ever reach the final
  * reducer.
  */
object Checksum {

  /** One-row DataFrame: (n_rows, checksum) over the whole input.
    * `prefixLen` hex chars of the row hash key the level-1 blocks
    * (4 → 65536 blocks). The digest is deterministic and order-sensitive to
    * `orderCol` within blocks and to block ids across blocks. */
  def merkle(df: DataFrame, orderCol: String, rowHash: Column, prefixLen: Int = 4): DataFrame = {
    val blocks = df
      .select(col(orderCol).as("_k"), rowHash.as("_h"))
      .withColumn("_b", substring(col("_h"), 1, prefixLen))
      .groupBy(col("_b"))
      .agg(
        count(lit(1)).as("_n"),
        md5(
          array_join(
            transform(array_sort(collect_list(struct(col("_k"), col("_h")))), x => x("_h")),
            "").cast("binary")).as("_bh"))
    blocks.agg(
      sum(col("_n")).as("n_rows"),
      md5(
        array_join(
          transform(array_sort(collect_list(struct(col("_b"), col("_bh")))), x => x("_bh")),
          "").cast("binary")).as("checksum"))
  }

}

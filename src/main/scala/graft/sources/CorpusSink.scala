package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Release packaging: write a corpus as deterministically hash-sharded
  * parquet and certify WHAT LANDED ON DISK with a manifest — the
  * publish step after [[graft.Pipeline]]'s transforms, and the artifact a
  * consumer checks before training (shard counts + order-independent id
  * digests detect truncated, duplicated, or re-ordered deliveries without
  * re-reading payloads).
  *
  * Scale shape: sharding is one hash projection (no shuffle beyond the
  * partitioned write's own file routing); the manifest is computed by
  * READING BACK the written files — certifying the bytes on disk, not the
  * plan that produced them — as one map-side-combined aggregate per shard
  * whose digest is an order-independent XOR of 64-bit id hashes
  * (commutative, so file/partition read order cannot change it).
  */
object CorpusSink {

  /** Deterministic shard id for a row: hash of the id column mod `shards`
    * (stable across runs/engines — the [[graft.functions.CrossHash]]
    * md5-derived hash, not JVM hashCode).
    */
  def shardCol(idCol: Column, shards: Int): Column =
    pmod(graft.functions.CrossHash.mdint(idCol.cast("string")), lit(shards.toLong))

  /** Write `df` under `outDir` partitioned into `shards` hash shards,
    * then read the directory back and return its manifest:
    * `(shard, n_rows, id_digest)` — one row per shard that landed.
    */
  def writeSharded(df: DataFrame, outDir: String, idCol: Column,
      shards: Int): DataFrame = {
    require(shards >= 1, s"writeSharded needs shards >= 1, got $shards")
    df.withColumn("shard", shardCol(idCol, shards))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    manifest(df.sparkSession, outDir, idCol)
  }

  /** Manifest of an already-written sharded corpus directory — what a
    * consumer runs to certify a delivery matches the publisher's manifest.
    */
  def manifest(spark: SparkSession, dir: String, idCol: Column): DataFrame =
    spark.read.parquet(literalPath(dir))
      // partition-directory type inference reads `shard` back as int —
      // pin long so the manifest schema matches shardCol's type
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        // bit_xor of 64-bit id hashes: order-independent and sensitive to
        // any added/removed/duplicated id (a duplicated id XORs itself out
        // of the digest AND bumps n_rows — the pair of columns together
        // catches both corruption classes)
        bit_xor(xxhash64(idCol.cast("string"))).as("id_digest"))

  /** `path` with Hadoop's glob metacharacters escaped, so a read opens
    * exactly that path: `spark.read` globs its paths, so a root such as
    * `we"ird\dir` or `runs[1]` would otherwise name a pattern (a missing
    * path, or a sibling's files).
    */
  private[graft] def literalPath(path: String): String =
    path.replaceAll("""([\\\[\]{}*?])""", """\\$1""")
}

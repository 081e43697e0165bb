package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document-corpus ingest/egress for training-data pipelines ([EXT] —
  * the reference ingests only CSV/XLS uploads; real corpora arrive as
  * JSONL and leave as partitioned parquet shards).
  *
  * Scale notes: JSONL scans parallelize per file split like any text
  * source; quarantine is per row — at 100 TB a single bad line must
  * not kill the job — and `clean` + `quarantined` together account for
  * every non-blank input line (nothing is silently dropped: lines that
  * parse but lack the required id are quarantined too, not vanished).
  * Parsing is a plain `from_json` projection over a text scan, so both
  * outputs replan safely with no dependence on cache state. The shard
  * writer repartitions by (split, shard) so each output file is one
  * task's stream — no post-hoc file merge — and sorts within
  * partitions by id for deterministic, diff-able shards.
  */
object DocSources {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** Read a JSONL corpus. Returns (clean rows, quarantined raw lines).
    * A line is clean iff it parses AND carries a doc_id; every other
    * non-blank line lands in the quarantine with its raw text. */
  def readJsonl(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    readJsonlAs(spark, path, docSchema, "doc_id")

  /** [[readJsonl]] generalized to any schema + id column: non-blank
    * lines are parsed with the explicit schema (never inference: at
    * 100 TB, schema inference is a second full corpus scan before the
    * first real one); a line is clean iff it parses AND carries the id;
    * everything else is quarantined with its raw text. */
  def readJsonlAs(spark: SparkSession, path: String, schema: StructType,
      idCol: String): (DataFrame, DataFrame) = {
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"), from_json(col("value"), schema).as("j"))
    val ok = col("j").isNotNull && col(s"j.$idCol").isNotNull
    (parsed.filter(ok).select(col("j.*")),
      parsed.filter(!ok).select(col("value").as("raw_line")))
  }

  /** Corpus round-trip through JSONL: write `df` to a scratch dir,
    * read it back through the quarantine reader, return the read-back
    * frame — the end-to-end (writer, reader) fidelity check for
    * escaping, unicode, embedded newlines-as-\n, nulls, and numeric
    * width. The scratch dir is keyed by the input plan so concurrent
    * sessions don't collide. */
  def jsonlRoundTrip(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val dir = scratch(df, "jsonl")
    df.write.mode("overwrite").json(dir)
    readJsonlAs(df.sparkSession, dir, df.schema, idCol)._1
  }

  /** Corpus round-trip through ORC (the other columnar landing format
    * next to parquet), explicit schema on the read side. */
  def orcRoundTrip(df: DataFrame): DataFrame = {
    val dir = scratch(df, "orc")
    df.write.mode("overwrite").orc(dir)
    df.sparkSession.read.schema(df.schema).orc(dir)
  }

  private def scratch(df: DataFrame, tag: String): String =
    graft.Tables.scratchDir(s"rt_$tag",
      java.lang.Integer.toHexString(df.queryExecution.logical.semanticHash()))

  /** Write deterministic training shards: `shardsPerSplit` parquet
    * files per split value, rows hash-assigned to shards by id (stable
    * across runs) and sorted by id within each shard. */
  def writeTrainingShards(df: DataFrame, idCol: String, splitCol: String,
      outDir: String, shardsPerSplit: Int): Unit = {
    df.withColumn("__shard",
        pmod(hash(col(idCol)), lit(shardsPerSplit)))
      .repartition(col(splitCol), col("__shard"))
      .sortWithinPartitions(col(idCol))
      .drop("__shard")
      .write.mode("overwrite").partitionBy(splitCol).parquet(outDir)
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema evolution on a file-backed table — the lakehouse reality
  * the single-schema loaders gloss over: a long-lived corpus is
  * written by GENERATIONS of the ingest job, and a column added in
  * generation 2 (here `lang`, the language-ID backfill every text
  * pipeline eventually adds) must NOT force a rewrite of the petabytes
  * generation 1 already wrote. The layout written here is exactly that
  * history: `gen=1/` files carry (doc_id, source, n_chars), `gen=2/`
  * files additionally carry `lang`, and readers reconcile the two
  * schemas at scan time via parquet footer merging
  * (`mergeSchema=true`) — generation-1 rows surface `lang IS NULL`,
  * the add-nullable-column contract Iceberg/Delta define for schema
  * evolution.
  *
  * 100 TB posture: schema reconciliation is a FOOTER operation — the
  * merged read opens each file's metadata once (the same footers the
  * scan needs anyway) and never rewrites or shuffles data; the old
  * generation is immutable forever. The `gen=N` hive partitioning
  * additionally keeps generation-scoped reads (backfill audits:
  * "which rows still lack lang?") partition-pruned to one
  * generation's files — asserted in `SchemaEvolutionSpec`.
  */
object SchemaEvolution {

  /** Write the two-generation layout once per (session, sf dir);
    * returns the layout root. Generation membership is doc_id parity —
    * partitioning-independent and reproducible in the oracle. */
  def ensureLayout(s: SparkSession, d: String): String =
    graft.Tables.once("SchemaEvolution.layoutCache", s, d) {
      val root = graft.Tables.matDir("schema_evo", s, d)
      val docs = graft.Tables.load(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$root/gen=2")
      root
    }

  /** The reconciled read over every generation: one scan, merged
    * schema, generation-1 rows null-filled for the added column. */
  def readMerged(s: SparkSession, root: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(root)
}

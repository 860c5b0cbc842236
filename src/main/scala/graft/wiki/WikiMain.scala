package graft.wiki

/** CLI entry mirroring the reference driver
  * (/root/reference/src/mr/CountReference.java:322-363): args are the
  * XML dump path and the output CSV file. The two chained MR jobs +
  * driver-side copy collapse to one DataFrame action + rename.
  *
  * Usage: runMain graft.wiki.WikiMain <pages.xml> <out.csv>
  */
object WikiMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: WikiMain <pages.xml> <out.csv>")
      sys.exit(2)
    }
    val Array(xmlPath, outCsv) = args
    val spark = graft.SparkTune.session(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER",
        s"local[${graft.SparkTune.cpus}]"),
      "spark.app.name" -> "wiki-incoming-references",
      "spark.sql.adaptive.enabled" -> "true")
    try {
      val counts = WikiPipeline.run(spark, xmlPath)
      WikiPipeline.writeCsv(counts, outCsv)
      println(s"[wiki] wrote $outCsv")
    } finally spark.stop()
  }
}

package graft.wiki

/** The in-repo 10-page MediaWiki fixture (FIXTURES.md §A) and its
  * goldens. `tools/make_wiki_fixture.py --seed 10` writes the file. The
  * numbers are the literal parseText replica's
  * (`WikiPropertySpec.referenceEmissions`) over the fixture's title and
  * text characters, never the Spark path under test; the generator's own
  * replica gives the same ones. */
object WikiFixture {
  val path: String = new java.io.File(
    getClass.getResource("/wiki/itwiki-sample-10pages.xml").toURI).getPath

  val Pages = 10L
  val Emissions = 1405L
  val DistinctPairs = 758L
  /** distinct page_to titles: the final CSV's data rows */
  val Rows = 426L
  val MaxCount = 10L
  val AtMaxCount = Set("astronomia moderna", "etnologia (letteratura)", "stella")
  /** sha256 of the whole expected CSV (header + raw `title,count` lines),
    * the `csv_sha256` that `tools/make_wiki_fixture.py` prints from its
    * own replica. */
  val CsvSha256 = "0cd75612a597fb78f17db88cf0e46b36e9ef55a6f22c613b1e865a3fc73769c8"
}

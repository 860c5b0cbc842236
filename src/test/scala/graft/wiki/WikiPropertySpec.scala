package graft.wiki

import graft.SparkSpec
import org.scalacheck.{Gen, rng}
import org.scalacheck.rng.Seed

/** Property-based parity: WikiPipeline.links must agree with a
  * line-faithful Scala replica of the reference's parseText
  * (CountReference.java:246-266) on arbitrary generated wikitext —
  * including pipes, banned namespaces, newlines, commas, nesting and
  * unicode. One Spark job checks all samples. The same replica, with no
  * Spark at all, fixes the in-repo fixture's goldens ([[WikiFixture]]).
  */
class WikiPropertySpec extends SparkSpec {
  import WikiPropertySpec._

  private val fragment: Gen[String] = Gen.oneOf(
    Gen.alphaLowerStr.map(s => s"[[${s.take(8)}]]"),
    Gen.alphaLowerStr.map(s => s"[[${s.take(6)}|alias]]"),
    Gen.oneOf("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:",
      "Immagine:").flatMap(ns => Gen.alphaLowerStr.map(s => s"[[$ns${s.take(5)}]]")),
    Gen.const("[[a\nb]]"),
    Gen.const("[[Roma, Italia]]"),
    Gen.const("[[Roma#Storia]]"),
    Gen.const("[[  spaced  ]]"),
    Gen.const("[[]]"),
    Gen.const("[[A|B|C]]"),
    Gen.const("[[pipe|]]"),
    Gen.const("[[File:x.jpg|thumb|[[y]] caption]]"),
    Gen.const("[[Genesis: storia]]"),
    Gen.const("[[caffè]] [[über|u]]"),
    Gen.alphaLowerStr.map(_.take(10)), // plain prose
    Gen.const("]] stray [["),
    // every char String.trim() strips, tabs and newlines included
    for {
      l <- Gen.listOfN(3, Gen.choose('\u0000', '\u0020'))
      r <- Gen.listOfN(3, Gen.choose('\u0000', '\u0020'))
      s <- Gen.alphaLowerStr
    } yield s"[[${l.mkString}${s.take(5)}${r.mkString}]]",
    Gen.const("[[|x]]"),
    Gen.const("[[,]]"),
    Gen.const("[[a|b|c]]"),
    Gen.const("[[File:x [[y]]]]"),
    Gen.const("[[\uD834\uDD1E chiave di violino]]"), // U+1D11E
    Gen.const("[[x\n]] [[y]]"),
    Gen.const("]][[z]]"))

  private val textGen: Gen[String] =
    Gen.listOfN(12, fragment).map(_.mkString(" "))

  test("pipeline emissions == reference replica on 200 generated texts") {
    import spark.implicits._
    val seed = Seed(42L)
    val samples = (0 until 200).map { i =>
      val s = textGen.apply(Gen.Parameters.default,
        seed.reseed(i.toLong)).getOrElse("")
      (s"T$i", s)
    }
    val df = samples.toDF("title", "text")
    val got = WikiPipeline.links(df)
      .select("page_from", "page_to").as[(String, String)]
      .collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap

    samples.foreach { case (title, text) =>
      val exp = referenceEmissions(title, text).map(_._1).sorted
      val act = got.getOrElse(title, Seq.empty)
      assert(act === exp, s"mismatch for '$text'")
    }
  }

  test("countDistinct invariant under within-page duplication") {
    import spark.implicits._
    val once = Seq(("P", "[[x]] [[y]]")).toDF("title", "text")
    val dup = Seq(("P", "[[x]] [[y]] [[x]] [[x]] [[y]]")).toDF("title", "text")
    val a = WikiPipeline.incomingReferenceCounts(WikiPipeline.links(once)).collect()
    val b = WikiPipeline.incomingReferenceCounts(WikiPipeline.links(dup)).collect()
    assert(a.map(r => (r.getString(0), r.getLong(1))).toSet
      === b.map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("link filter is idempotent (filtering output again changes nothing)") {
    import spark.implicits._
    val df = Seq(("T", "[[a]] [[File:b]] [[c|d]] [[Genesis: x]]")).toDF("title", "text")
    val l1 = WikiPipeline.links(df)
    // re-running the namespace filter on already-cleaned targets is a no-op
    val banned = WikiPipeline.BannedSubstrings
    import org.apache.spark.sql.functions.col
    val refiltered = l1.filter(!banned.map(col("page_to").contains(_)).reduce(_ || _))
    assert(refiltered.count() === l1.count())
  }

  test("reference replica over the in-repo fixture gives its goldens") {
    val pages = staxPages(WikiFixture.path)
    assert(pages.size.toLong === WikiFixture.Pages)
    val emissions = pages.flatMap { case (t, x) => referenceEmissions(t, x) }
    assert(emissions.size.toLong === WikiFixture.Emissions)
    val pairs = emissions.distinct
    assert(pairs.size.toLong === WikiFixture.DistinctPairs)
    val counts = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(counts.size.toLong === WikiFixture.Rows)
    assert(counts.values.max === WikiFixture.MaxCount)
    assert(counts.filter(_._2 == WikiFixture.MaxCount).keySet ===
      WikiFixture.AtMaxCount)
  }
}

object WikiPropertySpec {

  /** Replica of parseText + the emptiness guard (:237) and title trim
    * (:263). Kept deliberately literal, quirks included. */
  def referenceEmissions(title: String, text: String): Seq[(String, String)] = {
    if (title == null || title.isEmpty || text == null || text.isEmpty)
      return Seq.empty
    val banned = Seq("File:", "Categoria:", "Category:", "Aiuto:", "s:",
      "Image:", "Immagine:")
    val m = java.util.regex.Pattern.compile("\\[\\[(.*?)\\]\\]").matcher(text)
    val out = Seq.newBuilder[(String, String)]
    while (m.find()) {
      var ref = m.group(0)
      if (ref.contains("|")) ref = ref.split("\\|")(0)
      if (!banned.exists(ref.contains)) {
        ref = ref.replaceAll("\\[|\\]|\\,", "").trim
        if (ref.nonEmpty) out += ((ref, title.trim))
      }
    }
    out.result()
  }

  /** (title, text) of every page the way the reference's mapper gathers
    * them (CountReference.java:211-244): StAX, and every CHARACTERS event
    * of an element named `title` or `text` (any case) concatenated. */
  def staxPages(path: String): Seq[(String, String)] = {
    import javax.xml.stream.{XMLInputFactory, XMLStreamConstants => X}
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try {
      val r = XMLInputFactory.newInstance().createXMLStreamReader(in, "UTF-8")
      val out = Seq.newBuilder[(String, String)]
      val title, text = new StringBuilder
      var element = ""
      while (r.hasNext) r.next() match {
        case X.START_ELEMENT =>
          element = r.getLocalName
          if (element == "page") { title.clear(); text.clear() }
        case X.CHARACTERS =>
          if (element.equalsIgnoreCase("title")) title.append(r.getText)
          else if (element.equalsIgnoreCase("text")) text.append(r.getText)
        case X.END_ELEMENT =>
          element = ""
          if (r.getLocalName == "page") out += ((title.toString, text.toString))
        case _ =>
      }
      r.close()
      out.result()
    } finally in.close()
  }
}

package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** FILE-SKIPPING intervals and METADATA-ONLY aggregates for the SQL
  * catalog scan — the planning arithmetic that lets `WHERE` prune the
  * manifest's file list and `COUNT(*)/MIN/MAX` answer without reading
  * a data file.
  *
  * Skipping is ADVISORY by construction: every pushed predicate stays
  * a post-scan filter (the scan builder returns them all as
  * residual), and the intervals extracted here only remove files
  * whose manifest `[min_key, max_key]` provably cannot hold a
  * matching row — the same soundness rule as
  * [[ManifestPrune.planRangeCommitted]], which this reuses per
  * column. A predicate shape we don't recognize simply doesn't
  * tighten anything; it can never mis-prune.
  *
  * Metadata aggregates follow Iceberg's pushdown rules: COUNT(*)
  * needs exact live counts (manifest `n_rows` minus the DV sidecar's
  * positions — refused while un-folded equality deletes make the
  * count a data question), MIN/MAX/COUNT(col) need the extremes and
  * null populations to be provably visible (no hidden rows at all)
  * and per-file bounds for the asked column — from the clustering
  * spec's stats or the per-column `cstats_*` maps. Anything else
  * falls back to the real scan.
  *
  * Every planner here is plain Scala (or Catalyst over a
  * LocalRelation) over the version's driver-held manifest and
  * sidecar rows ([[ManifestPrune.dirRows]]): planning runs no Spark
  * job, so nothing here is memoized — the rows themselves are the
  * snapshot facts. */
private[graft] object ChainSkip {

  /** A closed interval a column's matching rows must lie in. */
  case class Bounds(lo: Long = Long.MinValue, hi: Long = Long.MaxValue) {
    def tightenLo(v: Long): Bounds = copy(lo = lo.max(v))
    def tightenHi(v: Long): Bounds = copy(hi = hi.min(v))
    def nonTrivial: Boolean = lo != Long.MinValue || hi != Long.MaxValue
  }

  private def longLit(e: V2Expr): Option[Long] = e match {
    case l: V2Literal[_] => l.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Option(l.value).map(_.asInstanceOf[Number].longValue)
      case _ => None
    }
    case _ => None
  }

  private def colName(e: V2Expr): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames.head)
    case _ => None
  }

  /** Fold `p` into per-column interval bounds. Returns true iff the
    * predicate tightened something (and so participates in skipping —
    * surfaced via `pushedPredicates` for explain visibility). */
  def tighten(p: V2Expr,
              bounds: scala.collection.mutable.Map[String, Bounds])
      : Boolean = p match {
    case g: GeneralScalarExpression =>
      val kids = g.children()
      def upd(name: String)(f: Bounds => Bounds): Boolean = {
        bounds.update(name, f(bounds.getOrElse(name, Bounds()))); true
      }
      // a comparison with the column on either side; flip the op when
      // the literal leads (Spark normalizes, but don't depend on it)
      def cmp(opLo: Boolean, strict: Boolean): Boolean = {
        val straight = for {
          n <- colName(kids(0)); v <- longLit(kids(1))
        } yield (n, v, opLo)
        val flipped = for {
          n <- colName(kids(1)); v <- longLit(kids(0))
        } yield (n, v, !opLo)
        straight.orElse(flipped) match {
          case Some((n, v, lo)) =>
            // x > v  ≡  x >= v+1 on integral types; saturate at the
            // representable edge instead of overflowing
            val adj =
              if (!strict) v
              else if (lo) { if (v == Long.MaxValue) return false
                             else v + 1 }
              else         { if (v == Long.MinValue) return false
                             else v - 1 }
            if (lo) upd(n)(_.tightenLo(adj)) else upd(n)(_.tightenHi(adj))
          case None => false
        }
      }
      g.name() match {
        case "AND" =>
          val a = tighten(kids(0), bounds)
          val b = tighten(kids(1), bounds)
          a || b
        case ">=" if kids.length == 2 => cmp(opLo = true, strict = false)
        case ">"  if kids.length == 2 => cmp(opLo = true, strict = true)
        case "<=" if kids.length == 2 => cmp(opLo = false, strict = false)
        case "<"  if kids.length == 2 => cmp(opLo = false, strict = true)
        case "=" if kids.length == 2 =>
          cmp(opLo = true, strict = false) &&
            cmp(opLo = false, strict = false)
        case "IN" if kids.length >= 2 =>
          (colName(kids(0)), kids.toSeq.drop(1).map(longLit)) match {
            case (Some(n), vs) if vs.forall(_.isDefined) =>
              val values = vs.flatten
              upd(n)(_.tightenLo(values.min).tightenHi(values.max))
            case _ => false
          }
        case _ => false
      }
    case _ => false
  }

  /** Extract the usable intervals from a pushed-predicate batch;
    * returns (participating predicates, per-column bounds). */
  def extract(predicates: Array[V2Predicate])
      : (Array[V2Predicate], Map[String, Bounds]) = {
    val m = scala.collection.mutable.Map[String, Bounds]()
    val used = predicates.filter(tighten(_, m))
    (used, m.toMap.filter(_._2.nonTrivial))
  }

  /** STRING intervals — the skip machinery for chains clustered on a
    * string column (URL / language layouts): closed [lo, hi] bounds
    * in UTF8 binary order, the SAME ordering the manifest's min/max
    * aggregation used, so pruning stays exact. Strict comparisons
    * tighten to their inclusive neighbors (sound for skipping — the
    * kept set only grows) and the residual predicate keeps exactness. */
  case class SBounds(lo: Option[String] = None,
                     hi: Option[String] = None) {
    def tightenLo(v: String): SBounds =
      copy(lo = Some(lo.filter(_ > v).getOrElse(v)))
    def tightenHi(v: String): SBounds =
      copy(hi = Some(hi.filter(_ < v).getOrElse(v)))
    def nonTrivial: Boolean = lo.isDefined || hi.isDefined
  }

  private def strLit(e: V2Expr): Option[String] = e match {
    case l: V2Literal[_] if l.dataType == StringType =>
      Option(l.value).map(_.toString)
    case _ => None
  }

  def extractStr(predicates: Array[V2Predicate])
      : Map[String, SBounds] = {
    val m = scala.collection.mutable.Map[String, SBounds]()
    def upd(c: String)(f: SBounds => SBounds): Unit =
      m.update(c, f(m.getOrElse(c, SBounds())))
    def walk(e: V2Expr): Unit = e match {
      case g: GeneralScalarExpression =>
        val kids = g.children()
        def cmp(opLo: Boolean): Unit = {
          val straight = for {
            n <- colName(kids(0)); v <- strLit(kids(1))
          } yield (n, v, opLo)
          val flipped = for {
            n <- colName(kids(1)); v <- strLit(kids(0))
          } yield (n, v, !opLo)
          straight.orElse(flipped).foreach { case (n, v, lo) =>
            if (lo) upd(n)(_.tightenLo(v)) else upd(n)(_.tightenHi(v))
          }
        }
        g.name() match {
          case "AND" => kids.foreach(walk)
          case ">=" | ">" if kids.length == 2 => cmp(opLo = true)
          case "<=" | "<" if kids.length == 2 => cmp(opLo = false)
          case "=" if kids.length == 2 =>
            cmp(opLo = true); cmp(opLo = false)
          case "IN" if kids.length >= 2 =>
            (colName(kids(0)), kids.toSeq.drop(1).map(strLit)) match {
              case (Some(n), vs) if vs.forall(_.isDefined) =>
                val values = vs.flatten
                upd(n)(_.tightenLo(values.min).tightenHi(values.max))
              case _ =>
            }
          case _ =>
        }
      case _ =>
    }
    predicates.foreach(walk)
    m.toMap.filter(_._2.nonTrivial)
  }

  /** String-interval file plan — [[plannedFiles]] for string-statted
    * specs, through the type-general
    * [[ManifestPrune.planRangeCommittedAny]]. */
  def plannedFilesStr(s: SparkSession, root: String, version: Long,
                      bounds: Map[String, SBounds])
      : Option[Seq[String]] = {
    val statted = bounds.keys.filter(c =>
      ManifestPrune.listSpecs(root).values.exists(_.statsCol == c))
      .toSeq
    if (statted.isEmpty) None
    else Some(statted.map { c =>
      val b = bounds(c)
      ManifestPrune.planRangeCommittedAny(s, root, version, c,
        b.lo, b.hi).toSet
    }.reduce(_ intersect _).toSeq.sorted)
  }

  /** The file list of `version` pruned by every extracted interval
    * whose column some clustering spec stats (files written under a
    * spec that doesn't stat the column are always kept — the
    * [[ManifestPrune.planRangeCommitted]] rule applied per column,
    * lists intersected). Columns no spec stats prune nothing. */
  def plannedFiles(s: SparkSession, root: String, version: Long,
                   bounds: Map[String, Bounds]): Option[Seq[String]] = {
    val statted = bounds.keys.filter(c =>
      ManifestPrune.listSpecs(root).values.exists(_.statsCol == c)).toSeq
    if (statted.isEmpty) None
    else Some(statted.map { c =>
      val b = bounds(c)
      ManifestPrune.planRangeCommitted(s, root, version, c, b.lo, b.hi)
        .toSet
    }.reduce(_ intersect _).toSeq.sorted)
  }

  /** COLUMN-STATS file plan — pruning on ANY statted column, not
    * just the clustering spec's key: manifests carry per-file
    * `cstats_long` / `cstats_str` maps (min/max/null-count per
    * supported column), so a predicate on a column the layout never
    * clustered by still skips files whose recorded range provably
    * cannot match. This is what makes Z-ordered layouts prunable on
    * EVERY interleaved dimension and lets `lang = 'x' AND n_chars <
    * y` multiply two dimensions' selectivity.
    *
    * Soundness per file and column: a manifest row without the map
    * (pre-cstats commit) or without the column's entry (schema
    * evolution, capped width) is always KEPT; an entry whose
    * null-count equals the file's row count means the column is
    * all-NULL there — a range/equality predicate cannot match a null,
    * so the file drops; otherwise the closed-interval overlap test
    * runs with null bounds as ±inf (the string upper bound is null
    * whenever the max exceeded the 64-char truncation budget).
    * Comparisons evaluate in Catalyst over the driver-held manifest
    * rows (a LocalRelation — no job), so string ordering is the same
    * UTF8-binary ordering the min/max aggregation used. */
  def colStatsFiles(s: SparkSession, root: String, version: Long,
                    bounds: Map[String, Bounds],
                    sbounds: Map[String, SBounds])
      : Option[Seq[String]] = {
    if (bounds.isEmpty && sbounds.isEmpty) return None
    val m = ManifestPrune.localFrame(s,
      ManifestPrune.manifestOf(root, version))
    def keep(mapCol: String, c: String,
             qlo: Option[org.apache.spark.sql.Column],
             qhi: Option[org.apache.spark.sql.Column])
        : org.apache.spark.sql.Column = {
      val e = col(mapCol).getItem(c)
      val allNull = e.getField("nn") === col("n_rows")
      val overlap = Seq(
        qhi.map(q => e.getField("lo").isNull || e.getField("lo") <= q),
        qlo.map(q => e.getField("hi").isNull || e.getField("hi") >= q))
        .flatten.reduceOption(_ && _).getOrElse(lit(true))
      e.isNull || (!allNull && overlap)
    }
    val conds =
      (if (m.columns.contains("cstats_long"))
         bounds.toSeq.map { case (c, b) =>
           keep("cstats_long", c,
             Some(lit(b.lo)).filter(_ => b.lo != Long.MinValue),
             Some(lit(b.hi)).filter(_ => b.hi != Long.MaxValue))
         }
       else Nil) ++
      (if (m.columns.contains("cstats_str"))
         sbounds.toSeq.map { case (c, b) =>
           keep("cstats_str", c, b.lo.map(lit), b.hi.map(lit))
         }
       else Nil)
    if (conds.isEmpty) return None
    Some(ManifestPrune.collectFileList(s,
      m.filter(conds.reduce(_ && _)).select("file"),
      s"column-stats plan of $root v$version"))
  }

  // ------------------------------------------ manifest row access

  private val Integral = Set[DataType](LongType, IntegerType, ShortType,
    ByteType)

  /** The `cstats_*` map that stats a column of type `t`. */
  private def family(t: DataType): String =
    if (t == StringType) "cstats_str" else "cstats_long"

  /** One file's `cstats_*` entry for a column: the recorded bounds
    * (null = unknown, or an all-null file) and the null count. */
  private case class Stat(lo: Any, hi: Any, nn: Long)

  /** Field access over a version's driver-held manifest rows
    * ([[ManifestPrune.dirRows]]). Every planner below is plain Scala
    * over these rows, so planning runs no Spark job and has nothing
    * to memoize. */
  private final class ManifestView(s: SparkSession, val dir: String) {
    val m: ManifestPrune.DirRows = ManifestPrune.dirRows(s, dir)
    private val idx = m.schema.fieldNames.zipWithIndex.toMap
    private def num(r: Row, c: String): Option[Number] =
      idx.get(c).filterNot(r.isNullAt).map(r.getAs[Number](_))
    def has(c: String): Boolean = idx.contains(c)
    def file(r: Row): String = r.getString(idx("file"))
    def rows(r: Row): Long = num(r, "n_rows").fold(0L)(_.longValue)
    def nulls(r: Row): Option[Long] = num(r, "n_nulls").map(_.longValue)
    /** NULL and absent spec ids read as the default spec 0. */
    def spec(r: Row): Int = num(r, "spec_id").fold(0)(_.intValue)
    def key(r: Row, c: String): Any = r.get(idx(c))
    /** Indices of the live files (`n_rows > 0`) in the manifest. */
    lazy val liveIdx: IndexedSeq[Int] =
      m.rows.indices.filter(i => rows(m.rows(i)) > 0)
    lazy val live: IndexedSeq[Row] = liveIdx.map(m.rows)
    def stat(r: Row, family: String, c: String): Option[Stat] =
      idx.get(family).filterNot(r.isNullAt)
        .flatMap(i => r.getAs[scala.collection.Map[String, Row]](i).get(c))
        .filter(_ != null)
        .map(e => Stat(e.get(0), e.get(1), e.getAs[Number](2).longValue))
    /** Σ of column c's per-file `cstats_sum` entries over `files`, and
      * how many files lack the KEY — a coverage gap. A null entry is a
      * legitimately all-null file, which is present coverage. */
    def sumOf(files: Seq[Row], c: String): (Long, java.math.BigDecimal) = {
      val entries = files.map(r =>
        idx.get("cstats_sum").filterNot(r.isNullAt)
          .map(r.getAs[scala.collection.Map[String, java.math.BigDecimal]](_))
          .filter(_.contains(c)).map(_(c)))
      (entries.count(_.isEmpty).toLong,
        entries.flatten.filter(_ != null).reduceOption(_ add _).orNull)
    }
  }

  private def manifestView(s: SparkSession, root: String,
                           version: Long): ManifestView =
    new ManifestView(s, ManifestPrune.manifestOf(root, version))

  /** The order the manifest's min/max aggregation used: UTF8-binary
    * for strings, numeric for integral columns. */
  private def statOrdering(str: Boolean): Ordering[Any] =
    if (str) utf8Ordering.on[Any](_.toString)
    else Ordering.by[Any, Long](_.asInstanceOf[Number].longValue)

  /** SQL MIN/MAX over `vals`: nulls skipped, null when none is left. */
  private def extreme(vals: Iterator[Any], ord: Ordering[Any],
                      max: Boolean): Any =
    vals.filter(_ != null)
      .reduceOption((a, b) => if (max) ord.max(a, b) else ord.min(a, b))
      .orNull

  /** Column c's rollup over `files`: files without its entry (coverage
    * gaps), the string-truncation guards — a recorded lo of 64+ chars
    * may be a prefix, a null hi on a file with values was truncated —
    * the extremes, and the non-null count Σ(n_rows − nn). */
  private case class Rollup(gaps: Long, loCut: Long, hiCut: Long,
                            lo: Any, hi: Any, nonNull: Long)

  private def rollup(v: ManifestView, files: Seq[Row], c: String,
                     t: DataType): Rollup = {
    val str = t == StringType
    val ord = statOrdering(str)
    val entries = files.map(r => (v.rows(r), v.stat(r, family(t), c)))
    val present = entries.collect { case (n, Some(e)) => (n, e) }
    def chars(x: Any) = { val u = x.toString; u.codePointCount(0, u.length) }
    Rollup(
      gaps = entries.count(_._2.isEmpty).toLong,
      loCut = if (!str) 0L else present.count { case (n, e) =>
        e.nn < n && e.lo != null && chars(e.lo) >= 64 }.toLong,
      hiCut = if (!str) 0L else present.count { case (n, e) =>
        e.nn < n && e.hi == null }.toLong,
      lo = extreme(present.iterator.map(_._2.lo), ord, max = false),
      hi = extreme(present.iterator.map(_._2.hi), ord, max = true),
      nonNull = present.map { case (n, e) => n - e.nn }.sum)
  }

  /** A statistic as a Catalyst value of the column's own type: numeric
    * widths boxed as the attribute's (CBO and the aggregate output
    * cast by it), strings as UTF8String. */
  private def statVal(v: Any, t: DataType): Any =
    if (v == null) null
    else t match {
      case IntegerType => v.asInstanceOf[Number].intValue
      case ShortType => v.asInstanceOf[Number].shortValue
      case ByteType => v.asInstanceOf[Number].byteValue
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
      case _ => v.asInstanceOf[Number].longValue
    }

  /** One reported column statistic: min/max/nullCount are EXACT from
    * manifest arithmetic; ndv is the DataSketches-HLL estimate
    * (lgK=12, ~1.6% standard error — sketch union across files is
    * lossless, so the error is the per-sketch bound, not additive).
    * What CBO's filter-selectivity and join-size estimation read
    * through `Statistics.columnStats`. */
  case class ColStatRow(min: Option[Any], max: Option[Any],
                        nullCount: Long, ndv: Option[Long] = None)

  /** EXACT per-column (min, max, nullCount) for `cols` of the
    * version, from the manifest's cstats maps — the numbers a Hive
    * table only has after ANALYZE TABLE ... FOR COLUMNS, free here
    * because every commit stats every column. Reported ONLY when
    * provably exact: no DV / equality-delete sidecars (a hidden row
    * could be an extreme or a null), every live file carrying the
    * column's entry, and string maxima only when untruncated (string
    * minima are prefixes — sound as a LOWER estimate but not exact,
    * so strings report nullCount only). NDV unions the live files'
    * sketches on the driver, claimed only when every live file
    * carries one. */
  def columnStatsFor(s: SparkSession, root: String, version: Long,
                     cols: Seq[StructField]): Map[String, ColStatRow] = {
    if (ManifestPrune.dvOf(root, version).nonEmpty ||
        ManifestPrune.eqDelOf(root, version).nonEmpty) return Map.empty
    val v = manifestView(s, root, version)
    val fields = cols.filter(f =>
      (Integral(f.dataType) || f.dataType == StringType) &&
        v.has(family(f.dataType)))
    if (fields.isEmpty) return Map.empty
    val rows = v.live.map(v.rows).sum
    lazy val sketches = {
      val hs = ManifestPrune.sketchRows(s, v.dir)
      v.liveIdx.map(hs.lift(_).orNull)
    }
    fields.flatMap { f =>
      val r = rollup(v, v.live, f.name, f.dataType)
      if (r.gaps > 0) None // a file without the entry
      else {
        val exact = f.dataType != StringType
        Some(f.name -> ColStatRow(
          Option(r.lo).filter(_ => exact).map(statVal(_, f.dataType)),
          Option(r.hi).filter(_ => exact).map(statVal(_, f.dataType)),
          (rows - r.nonNull).max(0L),
          unionEstimate(sketches.map(h =>
            if (h == null) null else h.get(f.name).orNull))))
      }
    }.toMap
  }

  /** The NDV of the union of per-file HLL sketches, computed as
    * Spark's `hll_sketch_estimate(hll_union_agg(h, true))` does it;
    * None when a file has no sketch. */
  private def unionEstimate(sketches: Seq[Array[Byte]])
      : Option[Long] =
    if (sketches.contains(null)) None
    else {
      import org.apache.datasketches.hll.{HllSketch, Union}
      import org.apache.datasketches.memory.Memory
      def wrap(b: Array[Byte]) = HllSketch.wrap(Memory.wrap(b))
      val u = sketches.headOption.fold(new Union())(b =>
        new Union(wrap(b).getLgConfigK))
      sketches.foreach(b => u.update(wrap(b)))
      Some(math.round(HllSketch.heapify(
        Memory.wrap(u.toUpdatableByteArray)).getEstimate))
    }

  /** Per-column EXACT key sets from a pushed-predicate batch — only
    * shapes that pin a column to a finite value set contribute
    * (`c = lit`, `c IN (lits)`, conjunctions thereof; repeated
    * constraints on one column intersect). Sets above `cap` are
    * dropped (the bloom probe broadcast must stay small). These are
    * what the per-file bloom index can screen files against. */
  def exactKeys(predicates: Array[V2Predicate],
                cap: Int = 10000): Map[String, Seq[Long]] = {
    val sets = scala.collection.mutable.Map[String, Set[Long]]()
    def add(c: String, vs: Set[Long]): Unit =
      sets.update(c, sets.get(c).map(_ intersect vs).getOrElse(vs))
    def walk(e: V2Expr): Unit = e match {
      case g: GeneralScalarExpression => g.name() match {
        case "AND" => g.children().foreach(walk)
        case "=" if g.children().length == 2 =>
          val kids = g.children()
          (colName(kids(0)), longLit(kids(1))) match {
            case (Some(c), Some(v)) => add(c, Set(v))
            case _ => (colName(kids(1)), longLit(kids(0))) match {
              case (Some(c), Some(v)) => add(c, Set(v))
              case _ =>
            }
          }
        case "IN" if g.children().length >= 2 =>
          val kids = g.children()
          (colName(kids(0)), kids.toSeq.drop(1).map(longLit)) match {
            case (Some(c), vs) if vs.forall(_.isDefined) =>
              add(c, vs.flatten.toSet)
            case _ =>
          }
        case _ =>
      }
      case _ =>
    }
    predicates.foreach(walk)
    sets.toMap.filter(_._2.size <= cap)
      .map { case (c, vs) => c -> vs.toSeq.sorted }
  }

  /** Bloom-index file plan: when `version` has an index whose
    * recorded column carries an exact key set, screen the file list
    * through the per-file sketches (BloomIndex.planFiles — false
    * positives cost I/O, false negatives impossible). None when no
    * index, no recorded column, or no exact keys on it. */
  def bloomFiles(s: SparkSession, root: String, version: Long,
                 keys: Map[String, Seq[Long]]): Option[Seq[String]] =
    BloomIndex.indexOf(root, version).flatMap { dir =>
      BloomIndex.indexedColumn(dir).flatMap { c =>
        keys.get(c).filter(_.nonEmpty).map { ks =>
          BloomIndex.planFiles(s, root, version, ks)
        }
      }
    }

  // ------------------------------------------------ planned stats

  /** Live row count of the (possibly pruned) scan — manifest
    * arithmetic minus the DV sidecar's hidden positions, over the
    * driver-held manifest rows. Equality deletes make this an
    * over-estimate (planner statistics may legally over-estimate; the
    * metadata AGGREGATE path refuses instead). */
  def plannedLiveRows(s: SparkSession, root: String, version: Long,
                      bounds: Map[String, Bounds]): Long = {
    val v = manifestView(s, root, version)
    val planned: String => Boolean =
      plannedFiles(s, root, version, bounds).fold((_: String) => true)(_.toSet)
    val total = v.m.rows.filter(r => planned(v.file(r))).map(v.rows).sum
    val hidden = ManifestPrune.dvOf(root, version)
      .map(ManifestPrune.dvHiddenCount(s, _)).getOrElse(0L)
    (total - hidden).max(0L)
  }

  /** LIMIT-pushdown file plan: the FEWEST files (largest live count
    * first) whose live rows provably cover `limit` — a bare
    * `SELECT … LIMIT k` over a 100k-file table then reads one file,
    * not the table. Per-file live counts are manifest `n_rows` minus
    * the DV sidecar's per-file position counts; un-folded equality
    * deletes make per-file live counts unknowable, so None (no
    * pruning) there. None also when the whole table doesn't cover
    * the limit (plan everything — Spark still gets every row). */
  def limitFiles(s: SparkSession, root: String, version: Long,
                 limit: Int): Option[Seq[String]] = {
    if (ManifestPrune.eqDelOf(root, version).nonEmpty) return None
    val v = manifestView(s, root, version)
    val hidden = ManifestPrune.dvHiddenByFile(s,
      ManifestPrune.dvOf(root, version))
    // driver-bounded by the same manifest cap as every file plan
    val rows = ManifestPrune.boundedFiles(s, v.m.rows.iterator.map { r =>
        val f = v.file(r)
        (f, v.rows(r) - hidden.getOrElse(f, 0L))
      }, s"limit-pushdown plan of $root v$version")
      .sorted(Ordering.by[(String, Long), Long](_._2)(Ordering.Long.reverse)
        .orElseBy(_._1)(utf8Ordering))
    var acc = 0L
    val kept = rows.takeWhile { case (_, n) =>
      val need = acc < limit; acc += n; need
    }
    if (acc < limit && kept.length == rows.length) None
    else Some(kept.map(_._1))
  }

  /** TOP-N pushdown file plan for `ORDER BY c <dir> LIMIT k`: drop a
    * file only when k rows provably sort at-or-before ALL its rows.
    * The arithmetic is manifest-only and null-exact:
    *
    *  - a candidate's "beaten by" count sums, over files whose whole
    *    range sorts at-or-before the candidate's best value
    *    (`max_key <= min_key` for ASC; mirrored for DESC), a LOWER
    *    bound of live non-null rows: `n_rows - n_nulls - hidden`
    *    (hidden positions could all be non-null — worst case taken);
    *  - when nulls sort FIRST (Spark's ASC default), a file with ANY
    *    possible null can never be dropped — its nulls would belong
    *    at the very top — so only files with a RECORDED n_nulls of 0
    *    are droppable; when nulls sort LAST they are irrelevant to
    *    dropping;
    *  - files without usable stats (other spec, pre-n_nulls
    *    manifest) are never dropped and never counted as beating.
    *
    * None when nothing can be dropped or the preconditions (no
    * equality deletes, per-file bounds for the column from the spec
    * stats OR the cstats_long map) fail. */
  def topNFiles(s: SparkSession, root: String, version: Long,
                colName: String, ascending: Boolean,
                nullsFirst: Boolean, k: Int): Option[Seq[String]] =
    topNPlan[Long](s, root, version, colName, ascending, nullsFirst, k,
      LongType, s"top-$k plan of $root v$version")(
      _.asInstanceOf[Number].longValue)

  /** TOP-N pushdown file plan for `ORDER BY <string col> <dir> LIMIT
    * k` — the `cstats_str` mirror of [[topNFiles]], sound under the
    * truncation rule the writer encodes: a recorded lo is a 64-char
    * PREFIX of the file's min (lo <= min in UTF8-binary order — a
    * valid LOWER bound, possibly not attained), and hi is recorded
    * only when the file's max fit the budget whole (null hi =
    * unknowable upper bound). Mapped onto the generic drop-set
    * arithmetic that gives exactly the guards needed:
    *
    *  - ASC: a candidate's best is its lo — underestimating a
    *    candidate's best only shrinks its beaten count (keeps more
    *    files); a beater's worst is its hi, which must be recorded
    *    (None = never beats);
    *  - DESC mirrored: a candidate needs its recorded hi (None =
    *    never droppable); a beater's worst is its lo, and lo > bound
    *    implies its true min > bound — every row provably beats.
    *
    * Spec `min_key`/`max_key` take over per row when the manifest
    * keys are string-typed (a lang/URL-clustered chain): those are
    * EXACT, untruncated bounds from the stats aggregation. Bounds
    * compare in UTF8-binary order, matching the manifest
    * aggregation's own min/max semantics. */
  def topNFilesStr(s: SparkSession, root: String, version: Long,
                   colName: String, ascending: Boolean,
                   nullsFirst: Boolean, k: Int): Option[Seq[String]] =
    topNPlan[String](s, root, version, colName, ascending, nullsFirst,
      k, StringType, s"top-$k string plan of $root v$version")(
      _.toString)(utf8Ordering)

  /** The TOP-N builder behind both planners, generic in the bound
    * type `t` stands for. Per-file bounds come row by row from the
    * spec's min/max_key when this row's spec stats the ordered column
    * (and the manifest's key columns are of `t`'s family — a
    * string-statted chain's keys are lexicographic), else from the
    * column's cstats entry; rows with neither are unusable (never
    * dropped, never counted as beating). */
  private def topNPlan[T](s: SparkSession, root: String, version: Long,
      colName: String, ascending: Boolean, nullsFirst: Boolean, k: Int,
      t: DataType, what: String)(bound: Any => T)
      (implicit ord: Ordering[T]): Option[Seq[String]] = {
    if (ManifestPrune.eqDelOf(root, version).nonEmpty) return None
    val statted = ManifestPrune.listSpecs(root).collect {
      case (id, sp) if sp.statsCol == colName => id }.toSet
    val v = manifestView(s, root, version)
    if (statted.isEmpty && !v.has(family(t))) return None
    if (!v.has("n_nulls")) return None
    val keyType = v.m.schema("min_key").dataType
    val specKeys = statted.nonEmpty &&
      (if (t == StringType) keyType == StringType else Integral(keyType))
    val hidden = ManifestPrune.dvHiddenByFile(s,
      ManifestPrune.dvOf(root, version))
    val files = ManifestPrune.boundedFiles(s, v.m.rows.iterator, what)
      .map { r =>
        def f(lo: Any, hi: Any, nulls: Option[Long]) = TopNFile[T](
          v.file(r), Option(lo).map(bound), Option(hi).map(bound),
          v.rows(r), nulls, hidden.getOrElse(v.file(r), 0L),
          usable = true)
        if (specKeys && statted(v.spec(r)))
          f(v.key(r, "min_key"), v.key(r, "max_key"), v.nulls(r))
        else v.stat(r, family(t), colName) match {
          case Some(e) => f(e.lo, e.hi, Some(e.nn))
          case None => f(null, null, None).copy(usable = false)
        }
      }
    val dropped = topNDropSet(files, ascending, nullsFirst, k)
    if (dropped.isEmpty) None
    else Some(files.map(_.file).filterNot(dropped).sorted)
  }

  /** One file's TopN-relevant manifest facts — promoted out of
    * [[topNFiles]] so the drop-set arithmetic below is pure and
    * unit-testable at synthetic 100k-file scale with no manifest.
    * Generic in the bound type: Long for integral columns, String
    * (compared in UTF8-binary order) for string-statted ones. */
  private[sources] case class TopNFile[T](
      file: String, lo: Option[T], hi: Option[T], rows: Long,
      nulls: Option[Long], hidden: Long, usable: Boolean)

  /** Spark's string comparisons are UTF8-BINARY (unsigned byte)
    * order; java.lang.String.compareTo is UTF-16 code-unit order —
    * they disagree above the BMP (surrogates sort low in UTF-16),
    * so string TopN arithmetic must compare through UTF8String. */
  private[sources] val utf8Ordering: Ordering[String] =
    (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** The drop set of `ORDER BY <col> <dir> LIMIT k`, O(n log n) on
    * the driver: the beater population is sorted ONCE by its worst
    * value in sort order and its live-row lower bounds prefix-summed;
    * each candidate's beaten count is then a single binary search.
    * The previous shape — a per-candidate sum over ALL other files —
    * was O(n²) plan-time driver work: invisible at test file counts,
    * ~10^10 comparisons before the query starts at a 100 TB table's
    * ~100k manifest rows. Identical drop set by construction: the
    * prefix sum at the candidate's lower-bound index totals exactly
    * the files the old filter matched.
    *
    * best/worst are in SORT order (ASC: best = lo, worst = hi; DESC
    * mirrored), compared NATIVELY with a direction-aware predicate —
    * a negation trick would map Long.MinValue onto itself.
    *
    * STRICT beats: g beats f only when ALL of g sorts strictly before
    * ALL of f. `<=` let files with identical [min,max] ranges
    * mutually count each other as beaters — two files each holding k
    * copies of one value both saw >= k rows "at-or-before" their best
    * and BOTH dropped, losing the true top-k. Strict order is sound
    * by minimal-best induction: a dropped file's beaters all have
    * worst < its best, so the file attaining the minimal best among
    * any dropped set is beaten only by files that are themselves
    * kept. */
  private[sources] def topNDropSet[T](files: Seq[TopNFile[T]],
      ascending: Boolean, nullsFirst: Boolean, k: Int)
      (implicit ord: Ordering[T]): Set[String] = {
    def best(f: TopNFile[T]) = if (ascending) f.lo else f.hi
    def worst(f: TopNFile[T]) = if (ascending) f.hi else f.lo
    def beats(w: T, b: T) =
      if (ascending) ord.lt(w, b) else ord.gt(w, b)
    def live(f: TopNFile[T]) =
      (f.rows - f.nulls.getOrElse(f.rows) - f.hidden).max(0L)
    val sorted = files.iterator
      .filter(g => g.usable && worst(g).isDefined)
      .map(g => (worst(g).get, live(g))).toArray
      .sortBy(_._1)(if (ascending) ord else ord.reverse)
    val prefix = new Array[Long](sorted.length + 1)
    var i = 0
    while (i < sorted.length) {
      prefix(i + 1) = prefix(i) + sorted(i)._2
      i += 1
    }
    // rows provably sorting strictly before value b: the prefix sum
    // at the first index whose worst does NOT beat b
    def beaten(b: T): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (beats(sorted(mid)._1, b)) lo = mid + 1 else hi = mid
      }
      prefix(lo)
    }
    files.iterator.filter { f =>
      f.usable && f.rows > 0 && best(f).isDefined &&
        (!nullsFirst || f.nulls.contains(0L)) && {
          // the old loop excluded f from its own beaters (`g ne f`);
          // only a corrupt manifest row (hi < lo) can self-beat under
          // strict order, but subtract it rather than trust writer
          // invariants at plan time — drop set stays exactly equal
          val self =
            if (worst(f).isDefined && beats(worst(f).get, best(f).get))
              live(f)
            else 0L
          beaten(best(f).get) - self >= k
        }
    }.map(_.file).toSet
  }

  // --------------------------------------- metadata-only aggregates

  /** One planned metadata aggregate: output fields + the result rows
    * (one row for a global aggregate, one per group for a pushed
    * GROUP BY; values are Catalyst-internal — Long/Int/UTF8String,
    * null for an empty table). */
  case class MetaAgg(schema: StructType, rows: Seq[Seq[Any]])

  /** One aggregate of a pushed batch that metadata can answer. */
  private sealed trait Ask
  private case object AskCount extends Ask
  private case class AskCountCol(c: String, t: DataType) extends Ask
  private case class AskMin(c: String, t: DataType) extends Ask
  private case class AskMax(c: String, t: DataType) extends Ask
  private case class AskSum(c: String, t: DataType) extends Ask

  /** A bare reference to a table column the writer stats — every
    * width cstatFields stats into cstats_long, and strings. */
  private def statted(table: StructType, e: V2Expr)
      : Option[(String, DataType)] = for {
    n <- colName(e)
    f <- table.fields.find(_.name == n)
    if Integral(f.dataType) || f.dataType == StringType
  } yield (n, f.dataType)

  /** The batch's asks, or None when one of them needs the data:
    * DISTINCT, an unstatted column, a string SUM (doubles are never
    * statted), any other function. */
  private def parseAsks(table: StructType, agg: Aggregation)
      : Option[Seq[Ask]] = {
    val asks = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(AskCount)
      case c: org.apache.spark.sql.connector.expressions.aggregate.Count
          if !c.isDistinct =>
        statted(table, c.column).map((AskCountCol.apply _).tupled)
      case m: Min => statted(table, m.column).map((AskMin.apply _).tupled)
      case m: Max => statted(table, m.column).map((AskMax.apply _).tupled)
      case sm: Sum if !sm.isDistinct =>
        statted(table, sm.column).filter(_._2 != StringType)
          .map((AskSum.apply _).tupled)
      case _ => None
    }
    if (asks.forall(_.isDefined)) Some(asks.flatten) else None
  }

  /** The distinct columns the asks read, with what each needs: MIN
    * (whole string lo), MAX (recorded string hi), the non-null count
    * (COUNT(col), and SUM for its NULL-iff-no-values rule) and SUM. */
  private case class Need(min: Boolean, max: Boolean, count: Boolean,
                          sum: Boolean)

  private def needs(asks: Seq[Ask]): Seq[((String, DataType), Need)] =
    asks.collect {
      case AskMin(c, t) => (c, t)
      case AskMax(c, t) => (c, t)
      case AskCountCol(c, t) => (c, t)
      case AskSum(c, t) => (c, t)
    }.distinct.map { ct =>
      ct -> Need(asks.contains(AskMin(ct._1, ct._2)),
        asks.contains(AskMax(ct._1, ct._2)),
        asks.exists(a => a == AskCountCol(ct._1, ct._2) ||
          a == AskSum(ct._1, ct._2)),
        asks.contains(AskSum(ct._1, ct._2)))
    }

  /** The cstats answer (lo, hi, non-null count) for a column, or None
    * on a coverage gap or a string bound the truncation rule leaves
    * unknowable. */
  private def cstatsAnswer(r: Rollup, need: Need): Option[(Any, Any, Long)] =
    if (r.gaps == 0 && (!need.min || r.loCut == 0) &&
        (!need.max || r.hiCut == 0)) Some((r.lo, r.hi, r.nonNull))
    else None

  private val LongMaxD = java.math.BigDecimal.valueOf(Long.MaxValue)
  private val LongMinD = java.math.BigDecimal.valueOf(Long.MinValue)

  /** One output row of the asks from a file set's answers: `count` is
    * its live rows, `answer` a column's (lo, hi, non-null count), `sum`
    * its decimal total. None when a SUM falls outside Long range — the
    * real scan then reproduces Spark's native ANSI overflow behavior. */
  private def askValues(asks: Seq[Ask], count: Long,
                        answer: String => (Any, Any, Long),
                        sum: String => java.math.BigDecimal)
      : Option[Seq[Any]] = {
    val out = asks.map {
      case AskCount => count
      case AskCountCol(c, _) => answer(c)._3
      case AskMin(c, t) => statVal(answer(c)._1, t)
      case AskMax(c, t) => statVal(answer(c)._2, t)
      case AskSum(c, _) =>
        // SUM(integral) is LongType in Spark regardless of the input
        // width; NULL iff zero non-null values (the SQL rule)
        val tot = sum(c)
        if (answer(c)._3 == 0L || tot == null) null
        else if (tot.compareTo(LongMaxD) > 0 || tot.compareTo(LongMinD) < 0)
          return None
        else tot.longValueExact()
    }
    Some(out)
  }

  private def askField(a: Ask, i: Int): StructField = a match {
    case AskCount => StructField(s"count_$i", LongType, nullable = false)
    case AskCountCol(c, _) =>
      StructField(s"countc_${c}_$i", LongType, nullable = false)
    case AskMin(c, t) => StructField(s"min_${c}_$i", t)
    case AskMax(c, t) => StructField(s"max_${c}_$i", t)
    case AskSum(c, _) => StructField(s"sum_${c}_$i", LongType)
  }

  /** Plan `agg` purely from the version's metadata, or None when a
    * scan is genuinely required. Supported, all global (no GROUP BY):
    *
    *  - COUNT(*) — exact from `n_rows` minus DV positions, refused
    *    under un-folded equality deletes;
    *  - MIN/MAX of an integral or string column — only when NO rows
    *    are hidden (a hidden row could be the extreme), answered as
    *    min-of-mins / max-of-maxes from the spec's `min_key/max_key`
    *    when every live file's spec stats the column, else from the
    *    per-column `cstats_*` maps when every live file carries the
    *    entry (all-NULL files carry NULL stats and drop out, exactly
    *    SQL MIN/MAX semantics). String answers respect the
    *    truncation rule: MIN needs every file's recorded lo to be
    *    provably whole (length < the 64-char budget), MAX needs
    *    every hi recorded (null hi = truncated = unknowable);
    *  - COUNT(col) — the non-null count, Σ(n_rows − nn) from the
    *    column's cstats entries; same no-hidden-rows requirement
    *    (a hidden row's nullness is a data question);
    *  - SUM of an integral column — Σ of the per-file decimal(38,0)
    *    sums in `cstats_sum`, requiring gap-free key coverage (a null
    *    SUM entry is a legitimately all-null file, a missing key is a
    *    pre-feature or trimmed-policy row), NULL iff zero non-null
    *    values, REFUSED when the exact total falls outside Long range
    *    (the real scan then reproduces Spark's native ANSI overflow
    *    behavior).
    *
    * Aggregate pushdown is all-or-nothing: one unanswerable ask
    * refuses the whole batch and the real scan runs. */
  def planAgg(s: SparkSession, root: String, version: Long,
              table: StructType, agg: Aggregation): Option[MetaAgg] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val asks = parseAsks(table, agg).getOrElse(return None)
    // every ask refuses under equality deletes; all but COUNT(*) need
    // every row visible
    val dv = ManifestPrune.dvOf(root, version)
    if (ManifestPrune.eqDelOf(root, version).nonEmpty ||
        (dv.nonEmpty && asks.exists(_ != AskCount))) return None
    val v = manifestView(s, root, version)
    if (asks.exists(_.isInstanceOf[AskSum]) && !v.has("cstats_sum"))
      return None
    val live = v.live
    val specs = ManifestPrune.listSpecs(root)
    val keyType = v.m.schema.fields.find(_.name == "min_key")
      .map(_.dataType)
    // the spec path's non-null count needs a gap-free n_nulls rollup
    lazy val specNonNull =
      if (live.forall(v.nulls(_).isDefined))
        live.map(r => v.rows(r) - v.nulls(r).get).sum
      else -1L
    val perCol = needs(asks).map { case ((c, t), need) =>
      val str = t == StringType
      val r = rollup(v, live, c, t)
      val specIds = specs.collect {
        case (id, sp) if sp.statsCol == c => id }.toSet
      val specCovers = specIds.nonEmpty &&
        keyType.exists(k => if (str) k == StringType else Integral(k)) &&
        live.forall(f => specIds(v.spec(f)))
      val sTriple =
        if (!specCovers) None
        else {
          val ord = statOrdering(str)
          Some((extreme(live.iterator.map(v.key(_, "min_key")), ord,
              max = false),
            extreme(live.iterator.map(v.key(_, "max_key")), ord,
              max = true),
            specNonNull))
        }
      // spec bounds are exact and untruncated — prefer them except
      // for the non-null count, which only the cstats entries (or a
      // gap-free n_nulls rollup) can answer
      val cTriple = cstatsAnswer(r, need)
      val triple =
        if (need.count) cTriple.orElse(sTriple).filter(_._3 >= 0L)
        else sTriple.orElse(cTriple)
      c -> triple.getOrElse(return None)
    }.toMap
    val sums = needs(asks).collect {
      case ((c, _), need) if need.sum => c -> v.sumOf(live, c) }.toMap
    if (sums.values.exists(_._1 != 0L)) return None
    val hidden = dv.map(ManifestPrune.dvHiddenCount(s, _)).getOrElse(0L)
    askValues(asks, (live.map(v.rows).sum - hidden).max(0L), perCol,
        c => sums(c)._2)
      .map(vals => MetaAgg(StructType(asks.zipWithIndex.map {
        case (a, i) => askField(a, i) }), Seq(vals)))
  }

  /** Metadata-only GROUP BY (the Iceberg-partition-rollup analogue,
    * generalized to any cstats-covered columns): `GROUP BY g[, h...]`
    * (up to 4 columns) with COUNT(*)/COUNT(col)/MIN/MAX/SUM
    * aggregates answers from the manifest rows when every
    * live file is provably SINGLE-GROUP in EVERY grouping column —
    * its cstats entry says lo == hi with zero nulls (the file
    * belongs wholly to group lo), or all-null (the file belongs
    * wholly to the NULL group); the composite key is then
    * file-constant too. A file mixing groups
    * (or mixing nulls with values) makes per-group arithmetic a data
    * question — refuse, real scan. String groups additionally need
    * the recorded hi (null hi = truncated = the group VALUE itself
    * is unknowable). Same all-or-nothing batch rule, same sidecar
    * refusals (any hidden row corrupts some group's count), as
    * [[planAgg]]. Output rows: group value first, then the asks —
    * the complete-pushdown column order Spark expects. Group count
    * is bounded by the live file count, itself bounded by the
    * driver's manifest plan — no new driver-side scale surface. */
  def planGroupAgg(s: SparkSession, root: String, version: Long,
                   table: StructType, agg: Aggregation)
      : Option[MetaAgg] = {
    val gbs = agg.groupByExpressions()
    if (gbs.isEmpty || gbs.length > 4) return None
    if (ManifestPrune.eqDelOf(root, version).nonEmpty ||
        ManifestPrune.dvOf(root, version).nonEmpty) return None
    val gFields = gbs.toSeq.map(statted(table, _).getOrElse(return None))
    val asks = parseAsks(table, agg).getOrElse(return None)
    val v = manifestView(s, root, version)
    if (gFields.exists { case (_, t) => !v.has(family(t)) }) return None
    if (asks.exists(_.isInstanceOf[AskSum]) && !v.has("cstats_sum"))
      return None
    // the constancy proof, file by file and PER GROUP COLUMN — every
    // grouping column must be single-valued (or all-null) in the
    // file; the composite key is then file-constant too
    val keyed = v.live.map { r =>
      gFields.map { case (g, t) =>
        v.stat(r, family(t), g) match {
          case Some(e) if e.nn == v.rows(r) => null // the NULL group
          case Some(e) if e.nn == 0L && e.lo != null && e.lo == e.hi =>
            e.lo
          case _ => return None
        }
      } -> r
    }
    val byKey = keyed.groupMap(_._1)(_._2)
    val cols = needs(asks)
    val rows = keyed.map(_._1).distinct.map { key =>
      val files = byKey(key)
      val per = cols.map { case ((c, t), need) =>
        // all-or-nothing: a coverage gap or truncation guard in any
        // group refuses the whole batch
        c -> (cstatsAnswer(rollup(v, files, c, t), need)
            .getOrElse(return None),
          if (!need.sum) null
          else v.sumOf(files, c) match {
            case (0L, tot) => tot
            case _ => return None
          })
      }.toMap
      gFields.zip(key).map { case ((_, t), g) => statVal(g, t) } ++
        askValues(asks, files.map(v.rows).sum, c => per(c)._1,
          c => per(c)._2).getOrElse(return None)
    }
    Some(MetaAgg(StructType(
      gFields.map { case (g, t) => StructField(g, t) } ++
        asks.zipWithIndex.map { case (a, i) => askField(a, i) }), rows))
  }
}

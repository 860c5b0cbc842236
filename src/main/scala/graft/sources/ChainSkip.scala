package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.functions.{base64, coalesce, col, concat, concat_ws, count, length, lit, max, min, sum}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}

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
  * falls back to the real scan. */
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
    case l: V2Literal[_] if l.dataType ==
        org.apache.spark.sql.types.StringType =>
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
  private val colFilesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Map[String, Bounds], Map[String, SBounds]),
    Option[Seq[String]]]()

  def colStatsFiles(s: SparkSession, root: String, version: Long,
                    bounds: Map[String, Bounds],
                    sbounds: Map[String, SBounds])
      : Option[Seq[String]] = {
    if (bounds.isEmpty && sbounds.isEmpty) return None
    // memoized per immutable snapshot + constraint set (same
    // commit-instant key as every planning cache here — a chain
    // REBUILT at the same path can't serve a stale plan): repeated
    // executions of a multi-column query plan once, like the
    // neighboring bucketedFiles/columnStatsFor
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    colFilesCache.computeIfAbsent((root, version, ts, bounds, sbounds),
      _ => colStatsFilesUncached(s, root, version, bounds, sbounds))
  }

  private def colStatsFilesUncached(
      s: SparkSession, root: String, version: Long,
      bounds: Map[String, Bounds], sbounds: Map[String, SBounds])
      : Option[Seq[String]] = {
    // the same Catalyst comparisons, over the driver-held manifest
    // rows (a LocalRelation: filter + collect run no job)
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

  /** One reported column statistic: min/max/nullCount are EXACT from
    * manifest arithmetic; ndv is the DataSketches-HLL estimate
    * (lgK=12, ~1.6% standard error — sketch union across files is
    * lossless, so the error is the per-sketch bound, not additive).
    * What CBO's filter-selectivity and join-size estimation read
    * through `Statistics.columnStats`. */
  case class ColStatRow(min: Option[Any], max: Option[Any],
                        nullCount: Long, ndv: Option[Long] = None)

  private val colStatsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), Map[String, ColStatRow]]()

  /** EXACT per-column (min, max, nullCount) for `cols` of the
    * version, from the manifest's cstats maps — the numbers a Hive
    * table only has after ANALYZE TABLE ... FOR COLUMNS, free here
    * because every commit stats every column. Reported ONLY when
    * provably exact: no DV / equality-delete sidecars (a hidden row
    * could be an extreme or a null), every live file carrying the
    * column's entry, and string maxima only when untruncated (string
    * minima are prefixes — sound as a LOWER estimate but not exact,
    * so strings report nullCount only). Memoized per immutable
    * snapshot + column set; one aggregate job on first use. */
  def columnStatsFor(s: SparkSession, root: String, version: Long,
                     cols: Seq[org.apache.spark.sql.types.StructField])
      : Map[String, ColStatRow] = {
    if (ManifestPrune.dvOf(root, version).nonEmpty ||
        ManifestPrune.eqDelOf(root, version).nonEmpty) return Map.empty
    val longs = cols.filter(f => Set[DataType](LongType, IntegerType,
      ShortType, ByteType).contains(f.dataType))
    val strs = cols.filter(_.dataType ==
      org.apache.spark.sql.types.StringType)
    if (longs.isEmpty && strs.isEmpty) return Map.empty
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    val key = (root, version, ts,
      (longs ++ strs).map(_.name).sorted.mkString(","))
    colStatsCache.computeIfAbsent(key, { _ =>
      val m = ManifestPrune.immutableParquet(s,
        ManifestPrune.manifestOf(root, version))
      val hasL = m.columns.contains("cstats_long")
      val hasS = m.columns.contains("cstats_str")
      if (!hasL && !hasS) Map.empty
      else {
        val live = m.filter(col("n_rows") > 0)
        def cnt(cond: org.apache.spark.sql.Column) =
          coalesce(sum(org.apache.spark.sql.functions.when(cond, 1L)
            .otherwise(0L)), lit(0L))
        val fields = (longs.map(f => (f, "cstats_long")) ++
          strs.map(f => (f, "cstats_str")))
          .filter { case (_, mc) => m.columns.contains(mc) }
        val hasH = m.columns.contains("cstats_hll")
        val aggs = fields.zipWithIndex.flatMap { case ((f, mc), i) =>
          val e = col(mc).getItem(f.name)
          val h =
            if (hasH) col("cstats_hll").getItem(f.name)
            else lit(null).cast("binary")
          Seq(cnt(e.isNull).as(s"__g_$i"),
            min(e.getField("lo")).as(s"__lo_$i"),
            max(e.getField("hi")).as(s"__hi_$i"),
            coalesce(sum(col("n_rows") - e.getField("nn")), lit(0L))
              .as(s"__vals_$i"),
            coalesce(sum(col("n_rows")), lit(0L)).as(s"__rows_$i"),
            (if (mc == "cstats_str")
               cnt(e.getField("nn") < col("n_rows") &&
                 e.getField("hi").isNull)
             else lit(0L)).as(s"__tr_$i"),
            // NDV: sketches union losslessly; claimed only when
            // every live file carries one (__hg gap count)
            cnt(h.isNull).as(s"__hg_$i"),
            org.apache.spark.sql.functions.hll_sketch_estimate(
              org.apache.spark.sql.functions.hll_union_agg(h,
                lit(true))).as(s"__nd_$i"))
        }
        if (aggs.isEmpty) Map.empty
        else {
          val row = live.agg(aggs.head, aggs.tail: _*).head
          def rL(n: String) = row.getLong(row.fieldIndex(n))
          def rV(n: String): Option[Any] = {
            val i = row.fieldIndex(n)
            if (row.isNullAt(i)) None else Some(row.get(i))
          }
          fields.zipWithIndex.flatMap { case ((f, mc), i) =>
            if (rL(s"__g_$i") > 0) None // a file without the entry
            else {
              val nulls = rL(s"__rows_$i") - rL(s"__vals_$i")
              val ndv: Option[Long] =
                if (rL(s"__hg_$i") > 0) None // a file without a sketch
                else rV(s"__nd_$i")
                  .map(_.asInstanceOf[Number].longValue)
              val exactRange = mc == "cstats_long"
              // box in the attribute's own numeric width — CBO's
              // estimation casts by the attribute type
              def cvt(o: Option[Any]): Option[Any] = o.map { v =>
                f.dataType match {
                  case IntegerType =>
                    Integer.valueOf(v.asInstanceOf[Number].intValue)
                  case ShortType => java.lang.Short
                    .valueOf(v.asInstanceOf[Number].shortValue)
                  case ByteType => java.lang.Byte
                    .valueOf(v.asInstanceOf[Number].byteValue)
                  case _ => java.lang.Long
                    .valueOf(v.asInstanceOf[Number].longValue)
                }
              }
              Some(f.name -> ColStatRow(
                if (exactRange) cvt(rV(s"__lo_$i")) else None,
                if (exactRange) cvt(rV(s"__hi_$i")) else None,
                nulls.max(0L), ndv))
            }
          }.toMap
        }
      }
    })
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

  /** Post-pruning row/byte estimates, cached per immutable snapshot:
    * keyed by (root, version, the version's commit instant, bounds)
    * so a chain REBUILT at the same path (version numbers recycled)
    * can never serve a stale entry. */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Map[String, Bounds]), Long]()

  /** Live row count of the (possibly pruned) scan — manifest
    * arithmetic minus the DV sidecar's hidden positions, one tiny
    * job per distinct (snapshot, bounds), then memoized. Equality
    * deletes make this an over-estimate (planner statistics may
    * legally over-estimate; the metadata AGGREGATE path refuses
    * instead). */
  def plannedLiveRows(s: SparkSession, root: String, version: Long,
                      bounds: Map[String, Bounds]): Long = {
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    statsCache.computeIfAbsent((root, version, ts, bounds), { _ =>
      val m = ManifestPrune.immutableParquet(s,
        ManifestPrune.manifestOf(root, version))
      val planned = plannedFiles(s, root, version, bounds) match {
        case Some(fs) => m.filter(col("file").isInCollection(
          if (fs.isEmpty) Seq("") else fs))
        case None => m
      }
      val total = planned.agg(coalesce(sum(col("n_rows")), lit(0L)))
        .head.getLong(0)
      val hidden = ManifestPrune.dvOf(root, version)
        .map(ManifestPrune.dvHiddenCount(s, _)).getOrElse(0L)
      (total - hidden).max(0L)
    })
  }

  /** LIMIT-pushdown file plan: the FEWEST files (largest live count
    * first) whose live rows provably cover `limit` — a bare
    * `SELECT … LIMIT k` over a 100k-file table then reads one file,
    * not the table. Per-file live counts are manifest `n_rows` minus
    * the DV sidecar's per-file position counts; un-folded equality
    * deletes make per-file live counts unknowable, so None (no
    * pruning) there. None also when the whole table doesn't cover
    * the limit (plan everything — Spark still gets every row). */
  private val limitFilesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Int), Option[Seq[String]]]()

  def limitFiles(s: SparkSession, root: String, version: Long,
                 limit: Int): Option[Seq[String]] = {
    // memoized per immutable snapshot + limit (the colStatsFiles
    // discipline): the commit-instant key makes a rebuilt chain at
    // the same path a different cache key
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    limitFilesCache.computeIfAbsent((root, version, ts, limit),
      _ => limitFilesUncached(s, root, version, limit))
  }

  private def limitFilesUncached(s: SparkSession, root: String,
                                 version: Long,
                                 limit: Int): Option[Seq[String]] = {
    if (ManifestPrune.eqDelOf(root, version).nonEmpty) return None
    val m = ManifestPrune.immutableParquet(s,
        ManifestPrune.manifestOf(root, version))
      .select(col("file"), col("n_rows"))
    val live = ManifestPrune.dvOf(root, version) match {
      case Some(dv) =>
        val hidden = ManifestPrune.immutableParquet(s, dv)
          .groupBy("file")
          .agg(count(lit(1)).as("__hidden"))
        m.join(hidden, Seq("file"), "left")
          .select(col("file"), (col("n_rows") -
            coalesce(col("__hidden"), lit(0L))).as("n_live"))
      case None => m.select(col("file"), col("n_rows").as("n_live"))
    }
    // driver-bounded by the same manifest cap as every file plan
    val rows = ManifestPrune.collectFileList(s,
      live.orderBy(col("n_live").desc, col("file"))
        .select(concat_ws("\u0000", col("file"),
          col("n_live").cast("string"))),
      s"limit-pushdown plan of $root v$version")
      .map { packed =>
        val i = packed.lastIndexOf('\u0000')
        (packed.substring(0, i), packed.substring(i + 1).toLong)
      }
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
  private val topNFilesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String, Boolean, Boolean, Int),
    Option[Seq[String]]]()

  def topNFiles(s: SparkSession, root: String, version: Long,
                colName: String, ascending: Boolean,
                nullsFirst: Boolean, k: Int): Option[Seq[String]] = {
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    topNFilesCache.computeIfAbsent(
      (root, version, ts, colName, ascending, nullsFirst, k),
      _ => topNFilesUncached(s, root, version, colName, ascending,
        nullsFirst, k))
  }

  private def topNFilesUncached(s: SparkSession, root: String,
                version: Long, colName: String, ascending: Boolean,
                nullsFirst: Boolean, k: Int): Option[Seq[String]] = {
    if (ManifestPrune.eqDelOf(root, version).nonEmpty) return None
    val statted = ManifestPrune.listSpecs(root).collect {
      case (id, sp) if sp.statsCol == colName => id }.toSet
    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, version))
    val hasC = m0.columns.contains("cstats_long")
    if (statted.isEmpty && !hasC) return None
    if (!m0.columns.contains("n_nulls")) return None
    val m1 =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id", coalesce(col("spec_id"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val hidden = ManifestPrune.dvOf(root, version) match {
      case Some(dv) => ManifestPrune.immutableParquet(s, dv)
        .groupBy("file")
        .agg(count(lit(1)).as("__hidden"))
      case None => m1.select(col("file")).limit(0)
        .withColumn("__hidden", lit(0L))
    }
    // per-file bounds source, row by row: the spec's min/max_key when
    // this row's spec stats the ordered column (and the manifest's
    // key columns are long-typed — a string-statted chain's keys are
    // lexicographic), else the column's cstats_long entry; rows with
    // neither are unusable (never dropped, never counted as beating)
    import org.apache.spark.sql.functions.{when => sqlWhen}
    val minKeyIsLong = Set[DataType](LongType, IntegerType, ShortType,
      ByteType).contains(m0.schema("min_key").dataType)
    val fromSpec =
      if (statted.isEmpty || !minKeyIsLong) lit(false)
      else col("spec_id").isInCollection(statted.toSeq)
    val ce =
      if (hasC) col("cstats_long").getItem(colName)
      else lit(null).cast("struct<lo:bigint,hi:bigint,nn:bigint>")
    val loC = sqlWhen(fromSpec, col("min_key").cast("long"))
      .otherwise(ce.getField("lo"))
    val hiC = sqlWhen(fromSpec, col("max_key").cast("long"))
      .otherwise(ce.getField("hi"))
    val nnC = sqlWhen(fromSpec, col("n_nulls"))
      .otherwise(ce.getField("nn"))
    val usableC = fromSpec || ce.isNotNull
    // u0001 cannot occur in a filesystem path; concat_ws SKIPS null
    // columns, so every nullable field is coalesced to "" explicitly
    // to keep the positions stable
    val sep = "\u0001"
    def str(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit(""))
    val packed = ManifestPrune.collectFileList(s,
      m1.join(hidden, Seq("file"), "left")
        .select(concat_ws(sep,
          col("file"),
          str(loC),
          str(hiC),
          str(col("n_rows")),
          str(nnC),
          str(coalesce(col("__hidden"), lit(0L))),
          str(sqlWhen(usableC, lit(1)).otherwise(lit(0))))),
      s"top-$k plan of $root v$version")
    val files = packed.map { line =>
      val p = line.split(sep, -1)
      def num(i: Int): Option[Long] =
        if (p(i).isEmpty) None else Some(p(i).toLong)
      TopNFile(p(0), num(1), num(2), p(3).toLong, num(4), p(5).toLong,
        usable = p(6) == "1")
    }
    val dropped = topNDropSet(files, ascending, nullsFirst, k)
    if (dropped.isEmpty) None
    else Some(files.map(_.file).filterNot(dropped).sorted)
  }

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
    * EXACT, untruncated bounds from the stats aggregation. Bounds are
    * base64-packed through the driver collect — string VALUES may
    * contain the separator, unlike file paths — and compared in
    * UTF8-binary order, matching the manifest aggregation's own
    * min/max semantics. */
  private val topNFilesStrCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String, Boolean, Boolean, Int),
    Option[Seq[String]]]()

  def topNFilesStr(s: SparkSession, root: String, version: Long,
                   colName: String, ascending: Boolean,
                   nullsFirst: Boolean, k: Int): Option[Seq[String]] = {
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    topNFilesStrCache.computeIfAbsent(
      (root, version, ts, colName, ascending, nullsFirst, k),
      _ => topNFilesStrUncached(s, root, version, colName, ascending,
        nullsFirst, k))
  }

  private def topNFilesStrUncached(s: SparkSession, root: String,
                   version: Long, colName: String, ascending: Boolean,
                   nullsFirst: Boolean, k: Int): Option[Seq[String]] = {
    if (ManifestPrune.eqDelOf(root, version).nonEmpty) return None
    val statted = ManifestPrune.listSpecs(root).collect {
      case (id, sp) if sp.statsCol == colName => id }.toSet
    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, version))
    val hasC = m0.columns.contains("cstats_str")
    if (statted.isEmpty && !hasC) return None
    if (!m0.columns.contains("n_nulls")) return None
    val m1 =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id", coalesce(col("spec_id"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val hidden = ManifestPrune.dvOf(root, version) match {
      case Some(dv) => ManifestPrune.immutableParquet(s, dv)
        .groupBy("file")
        .agg(count(lit(1)).as("__hidden"))
      case None => m1.select(col("file")).limit(0)
        .withColumn("__hidden", lit(0L))
    }
    import org.apache.spark.sql.functions.{when => sqlWhen}
    val minKeyIsStr = m0.schema("min_key").dataType ==
      org.apache.spark.sql.types.StringType
    val fromSpec =
      if (statted.isEmpty || !minKeyIsStr) lit(false)
      else col("spec_id").isInCollection(statted.toSeq)
    val ce =
      if (hasC) col("cstats_str").getItem(colName)
      else lit(null).cast("struct<lo:string,hi:string,nn:bigint>")
    val loC = sqlWhen(fromSpec, col("min_key").cast("string"))
      .otherwise(ce.getField("lo"))
    val hiC = sqlWhen(fromSpec, col("max_key").cast("string"))
      .otherwise(ce.getField("hi"))
    val nnC = sqlWhen(fromSpec, col("n_nulls"))
      .otherwise(ce.getField("nn"))
    val usableC = fromSpec || ce.isNotNull
    // null-vs-value marker + base64: string bounds can contain ANY
    // byte (including the separator and newlines), and "" is a legal
    // bound distinct from null
    def enc(c: org.apache.spark.sql.Column) =
      sqlWhen(c.isNull, lit("N"))
        .otherwise(concat(lit("V"), base64(c.cast("binary"))))
    def str(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit(""))
    val sep = "\u0001"
    val packed = ManifestPrune.collectFileList(s,
      m1.join(hidden, Seq("file"), "left")
        .select(concat_ws(sep,
          col("file"),
          enc(loC),
          enc(hiC),
          str(col("n_rows")),
          str(nnC),
          str(coalesce(col("__hidden"), lit(0L))),
          str(sqlWhen(usableC, lit(1)).otherwise(lit(0))))),
      s"top-$k string plan of $root v$version")
    val files = packed.map { line =>
      val p = line.split(sep, -1)
      def dec(i: Int): Option[String] =
        if (p(i) == "N") None
        // MIME decoder: Spark's base64() chunks at 76 chars with CRLF
        else Some(new String(
          java.util.Base64.getMimeDecoder.decode(p(i).substring(1)),
          java.nio.charset.StandardCharsets.UTF_8))
      def num(i: Int): Option[Long] =
        if (p(i).isEmpty) None else Some(p(i).toLong)
      TopNFile[String](p(0), dec(1), dec(2), p(3).toLong, num(4),
        p(5).toLong, usable = p(6) == "1")
    }
    val dropped =
      topNDropSet(files, ascending, nullsFirst, k)(utf8Ordering)
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
    *    sums in `cstats_sum`, requiring gap-free coverage by
    *    map_contains_key (a null SUM entry is a legitimately all-null
    *    file, a missing key is a pre-feature or trimmed-policy row),
    *    NULL iff zero non-null values, REFUSED when the exact total
    *    falls outside Long range (the real scan then reproduces
    *    Spark's native ANSI overflow behavior).
    *
    * Aggregate pushdown is all-or-nothing: one unanswerable ask
    * refuses the whole batch and the real scan runs.
    *
    * Both planners are memoized per immutable snapshot + ask
    * signature (the colStatsFiles commit-instant key discipline):
    * repeated executions of the same aggregate pay the manifest
    * job once. */
  private val metaAggCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Seq[String]), Option[MetaAgg]]()

  private def aggSignature(agg: Aggregation): Seq[String] =
    (agg.groupByExpressions().map(_.describe()) ++
      agg.aggregateExpressions().map(_.describe())).toSeq

  def planAgg(s: SparkSession, root: String, version: Long,
              table: StructType, agg: Aggregation): Option[MetaAgg] = {
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    metaAggCache.computeIfAbsent(
      (root, version, ts, "G" +: aggSignature(agg)),
      _ => planAggUncached(s, root, version, table, agg))
  }

  private def planAggUncached(
      s: SparkSession, root: String, version: Long,
      table: StructType, agg: Aggregation): Option[MetaAgg] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val eqdel = ManifestPrune.eqDelOf(root, version)
    val dv = ManifestPrune.dvOf(root, version)

    sealed trait Ask
    case object AskCount extends Ask
    case class AskCountCol(c: String, t: DataType) extends Ask
    case class AskMin(c: String, t: DataType) extends Ask
    case class AskMax(c: String, t: DataType) extends Ask
    case class AskSum(c: String, t: DataType) extends Ask

    def minMaxCol(e: V2Expr): Option[(String, DataType)] = for {
      n <- colName(e)
      f <- table.fields.find(_.name == n)
      // every width cstatFields stats into cstats_long qualifies —
      // gating narrower than the writer silently forced short/byte
      // aggregates onto a full scan despite exact manifest stats
      if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType ||
        f.dataType == org.apache.spark.sql.types.StringType
    } yield (n, f.dataType)

    val asks: Seq[Ask] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        if (eqdel.nonEmpty) return None
        AskCount
      case cnt: org.apache.spark.sql.connector.expressions.aggregate
          .Count =>
        if (cnt.isDistinct || eqdel.nonEmpty || dv.nonEmpty) return None
        minMaxCol(cnt.column) match {
          case Some((n, t)) => AskCountCol(n, t)
          case None => return None
        }
      case m: Min =>
        if (eqdel.nonEmpty || dv.nonEmpty) return None
        minMaxCol(m.column) match {
          case Some((n, t)) => AskMin(n, t)
          case None => return None
        }
      case m: Max =>
        if (eqdel.nonEmpty || dv.nonEmpty) return None
        minMaxCol(m.column) match {
          case Some((n, t)) => AskMax(n, t)
          case None => return None
        }
      case sm: Sum =>
        // SUM answers from the per-file cstats_sum map — integral
        // columns only (string SUM never reaches here; doubles are
        // never statted). Hidden rows make the total a data question,
        // same refusal as MIN/MAX.
        if (sm.isDistinct || eqdel.nonEmpty || dv.nonEmpty) return None
        minMaxCol(sm.column) match {
          case Some((n, t)) if t != org.apache.spark.sql.types
            .StringType => AskSum(n, t)
          case _ => return None
        }
      case _: AggregateFunc => return None
    }

    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, version))
    val m =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id", coalesce(col("spec_id"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val specs = ManifestPrune.listSpecs(root)
    val live = m.filter(col("n_rows") > 0)

    def needMin(c: String) = asks.exists { case AskMin(x, _) => x == c
                                           case _ => false }
    def needMax(c: String) = asks.exists { case AskMax(x, _) => x == c
                                           case _ => false }
    def needCnt(c: String) = asks.exists {
      case AskCountCol(x, _) => x == c
      case AskSum(x, _) => x == c // SUM needs the non-null count too
      case _ => false }
    def needSum(c: String) = asks.exists {
      case AskSum(x, _) => x == c; case _ => false }
    val mmAsks: Seq[(String, DataType)] = asks.collect {
      case AskMin(c, t) => (c, t)
      case AskMax(c, t) => (c, t)
      case AskCountCol(c, t) => (c, t)
      case AskSum(c, t) => (c, t) }.distinct

    // Everything the decision needs — per-column coverage gaps,
    // string-truncation guards, extremes, non-null counts, the spec
    // path's min_key/max_key rollup AND the total row count — comes
    // from ONE aggregate job over the manifest (planning latency is
    // a per-query cost; the r14 lesson is to never spend a Spark job
    // where a column expression will do).
    val isStr = (t: DataType) =>
      t == org.apache.spark.sql.types.StringType
    val intish = Set[DataType](LongType, IntegerType, ShortType,
      ByteType)
    def entry(c: String, t: DataType) = {
      val mapCol = if (isStr(t)) "cstats_str" else "cstats_long"
      if (m.columns.contains(mapCol)) col(mapCol).getItem(c)
      else lit(null).cast(
        if (isStr(t)) "struct<lo:string,hi:string,nn:bigint>"
        else "struct<lo:bigint,hi:bigint,nn:bigint>")
    }
    val minKeyType = m0.schema.fields.find(_.name == "min_key")
      .map(_.dataType)
    def cnt(cond: org.apache.spark.sql.Column) =
      coalesce(sum(org.apache.spark.sql.functions.when(cond, 1L)
        .otherwise(0L)), lit(0L))
    val perColAggs = mmAsks.zipWithIndex.flatMap { case ((c, t), i) =>
      val e = entry(c, t)
      val specOk = specs.collect {
        case (id, sp) if sp.statsCol == c => id }.toSeq
      val specTypeOk = minKeyType.exists(k =>
        if (isStr(t)) isStr(k) else intish.contains(k))
      val specGap =
        if (specOk.isEmpty || !specTypeOk) lit(1L)
        else cnt(!col("spec_id").isInCollection(specOk))
      Seq(
        specGap.as(s"__sg_$i"),
        cnt(e.isNull).as(s"__cg_$i"),
        (if (isStr(t)) cnt(e.getField("nn") < col("n_rows") &&
           length(e.getField("lo")) >= 64) else lit(0L))
          .as(s"__lb_$i"),
        (if (isStr(t)) cnt(e.getField("nn") < col("n_rows") &&
           e.getField("hi").isNull) else lit(0L)).as(s"__hb_$i"),
        min(e.getField("lo")).as(s"__lo_$i"),
        max(e.getField("hi")).as(s"__hi_$i"),
        coalesce(sum(col("n_rows") - e.getField("nn")), lit(0L))
          .as(s"__nn_$i")) ++
      (if (!needSum(c)) Nil else {
        // the decimal(38,0) per-file sums roll up losslessly; the
        // gap count uses map_contains_key, NOT a null-value test — a
        // legitimately all-null file records a null SUM entry, which
        // is present coverage, while a pre-feature manifest row (or
        // trimmed-policy row) has no key at all and must refuse
        val hasSum = m.columns.contains("cstats_sum")
        val se =
          if (hasSum) col("cstats_sum").getItem(c)
          else lit(null).cast("decimal(38,0)")
        val sgap =
          if (hasSum)
            cnt(!coalesce(org.apache.spark.sql.functions
              .map_contains_key(col("cstats_sum"), lit(c)),
              lit(false)))
          else lit(1L)
        Seq(sum(se).as(s"__sm_$i"), sgap.as(s"__smg_$i"))
      })
    }
    val shared = Seq(
      coalesce(sum(col("n_rows")), lit(0L)).as("__rows"),
      min(col("min_key")).as("__sklo"),
      max(col("max_key")).as("__skhi"),
      (if (m0.columns.contains("n_nulls"))
         coalesce(sum(col("n_rows") - col("n_nulls")), lit(0L))
       else lit(-1L)).as("__sknn"),
      (if (m0.columns.contains("n_nulls"))
         cnt(col("n_nulls").isNull) else lit(1L)).as("__sknn_gap"))
    val aggs = shared ++ perColAggs
    val row = live.agg(aggs.head, aggs.tail: _*).head
    def rL(name: String): Long = row.getLong(row.fieldIndex(name))
    def rV(name: String): Any = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) null else row.get(i)
    }

    val perCol = mmAsks.zipWithIndex.map { case ((c, t), i) =>
      val specCovers = rL(s"__sg_$i") == 0L
      val cstatsCover = rL(s"__cg_$i") == 0L
      val loWhole = !isStr(t) || !needMin(c) || rL(s"__lb_$i") == 0L
      val hiWhole = !isStr(t) || !needMax(c) || rL(s"__hb_$i") == 0L
      val cTriple: Option[(Any, Any, Long)] =
        if (cstatsCover && loWhole && hiWhole)
          Some((rV(s"__lo_$i"), rV(s"__hi_$i"), rL(s"__nn_$i")))
        else None
      val sTriple: Option[(Any, Any, Long)] =
        if (specCovers)
          Some((rV("__sklo"), rV("__skhi"),
            if (rL("__sknn_gap") == 0L) rL("__sknn") else -1L))
        else None
      // spec bounds are exact and untruncated — prefer them except
      // for the non-null count, which only the cstats entries (or a
      // gap-free n_nulls rollup) can answer
      val triple =
        if (needCnt(c)) cTriple.orElse(sTriple.filter(_._3 >= 0L))
        else sTriple.orElse(cTriple)
      c -> triple
    }.toMap
    // total per-column SUMs: (coverage-gap count, decimal total)
    val sumCol: Map[String, (Long, Any)] =
      mmAsks.zipWithIndex.collect {
        case ((c, _), i) if needSum(c) =>
          c -> ((rL(s"__smg_$i"), rV(s"__sm_$i")))
      }.toMap
    val longMaxD = java.math.BigDecimal.valueOf(Long.MaxValue)
    val longMinD = java.math.BigDecimal.valueOf(Long.MinValue)
    for (ask <- asks) ask match {
      case AskMin(c, _) => if (perCol(c).isEmpty) return None
      case AskMax(c, _) => if (perCol(c).isEmpty) return None
      case AskCountCol(c, _) =>
        if (perCol(c).isEmpty || perCol(c).get._3 < 0) return None
      case AskSum(c, _) =>
        // needs the non-null count (NULL-iff-no-values rule) AND
        // gap-free sum coverage; a total outside Long range refuses
        // so the real scan reproduces Spark's native ANSI overflow
        if (perCol(c).isEmpty || perCol(c).get._3 < 0) return None
        val (gap, tot) = sumCol(c)
        if (gap != 0L) return None
        if (tot != null) {
          val bd = tot.asInstanceOf[java.math.BigDecimal]
          if (bd.compareTo(longMaxD) > 0 || bd.compareTo(longMinD) < 0)
            return None
        }
      case AskCount =>
    }

    val totalRows = rL("__rows")
    val hidden = dv.map(ManifestPrune.dvHiddenCount(s, _)).getOrElse(0L)
    val liveRows = (totalRows - hidden).max(0L)
    def statVal(v: Any, t: DataType): Any =
      if (v == null) null
      else t match {
        case IntegerType => v.asInstanceOf[Number].intValue
        case ShortType => v.asInstanceOf[Number].shortValue
        case ByteType => v.asInstanceOf[Number].byteValue
        case org.apache.spark.sql.types.StringType =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(v.toString)
        case _ => v.asInstanceOf[Number].longValue
      }

    val (fields, values) = asks.zipWithIndex.map {
      case (AskCount, i) =>
        (org.apache.spark.sql.types.StructField(s"count_$i", LongType,
          nullable = false), liveRows: Any)
      case (AskCountCol(c, _), i) =>
        (org.apache.spark.sql.types.StructField(s"countc_${c}_$i",
          LongType, nullable = false), perCol(c).get._3: Any)
      case (AskMin(c, t), i) =>
        (org.apache.spark.sql.types.StructField(s"min_${c}_$i", t),
          statVal(perCol(c).get._1, t))
      case (AskMax(c, t), i) =>
        (org.apache.spark.sql.types.StructField(s"max_${c}_$i", t),
          statVal(perCol(c).get._2, t))
      case (AskSum(c, _), i) =>
        // SUM(integral) is LongType in Spark regardless of the input
        // width; NULL iff zero non-null values (the SQL rule)
        val v: Any =
          if (perCol(c).get._3 == 0L || sumCol(c)._2 == null) null
          else sumCol(c)._2.asInstanceOf[java.math.BigDecimal]
            .longValueExact()
        (org.apache.spark.sql.types.StructField(s"sum_${c}_$i",
          LongType), v)
    }.unzip
    Some(MetaAgg(StructType(fields), Seq(values)))
  }

  /** Metadata-only GROUP BY (the Iceberg-partition-rollup analogue,
    * generalized to any cstats-covered columns): `GROUP BY g[, h...]`
    * (up to 4 columns) with COUNT(*)/COUNT(col)/MIN/MAX/SUM
    * aggregates answers from one manifest aggregation when every
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
    val ts = ManifestPrune.commitTimeMs(root, version).getOrElse(0L)
    metaAggCache.computeIfAbsent(
      (root, version, ts, "GB" +: aggSignature(agg)),
      _ => planGroupAggUncached(s, root, version, table, agg))
  }

  private def planGroupAggUncached(
      s: SparkSession, root: String, version: Long,
      table: StructType, agg: Aggregation): Option[MetaAgg] = {
    import org.apache.spark.sql.types.StringType
    val gbs = agg.groupByExpressions()
    if (gbs.isEmpty || gbs.length > 4) return None
    if (ManifestPrune.eqDelOf(root, version).nonEmpty ||
        ManifestPrune.dvOf(root, version).nonEmpty) return None
    // every grouping column must be statted AND file-constant; the
    // composite key is then constant per file too, so the same
    // single-group arithmetic covers GROUP BY (a, b, ...)
    val gFields = gbs.toSeq.map { gb =>
      (for {
        n <- colName(gb)
        f <- table.fields.find(_.name == n)
        if f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == ShortType || f.dataType == ByteType ||
          f.dataType == StringType
      } yield f).getOrElse(return None)
    }

    sealed trait Ask
    case object AskCount extends Ask
    case class AskCountCol(c: String, t: DataType) extends Ask
    case class AskMin(c: String, t: DataType) extends Ask
    case class AskMax(c: String, t: DataType) extends Ask
    case class AskSum(c: String, t: DataType) extends Ask
    def statted(e: V2Expr): Option[(String, DataType)] = for {
      n <- colName(e)
      f <- table.fields.find(_.name == n)
      if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType ||
        f.dataType == StringType
    } yield (n, f.dataType)
    val asks: Seq[Ask] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => AskCount
      case c: org.apache.spark.sql.connector.expressions.aggregate
          .Count =>
        if (c.isDistinct) return None
        statted(c.column).map { case (n, t) => AskCountCol(n, t) }
          .getOrElse(return None)
      case m: Min => statted(m.column).map { case (n, t) =>
        AskMin(n, t) }.getOrElse(return None)
      case m: Max => statted(m.column).map { case (n, t) =>
        AskMax(n, t) }.getOrElse(return None)
      case sm: Sum =>
        if (sm.isDistinct) return None
        statted(sm.column) match {
          case Some((n, t)) if t != StringType => AskSum(n, t)
          case _ => return None
        }
      case _: AggregateFunc => return None
    }

    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, version))
    val gMaps = gFields.map(f =>
      if (f.dataType == StringType) "cstats_str" else "cstats_long")
    if (gMaps.exists(mp => !m0.columns.contains(mp))) return None
    val needsSum = asks.exists(_.isInstanceOf[AskSum])
    if (needsSum && !m0.columns.contains("cstats_sum")) return None
    val live = m0.filter(col("n_rows") > 0)
    // the constancy proof, row by row and PER GROUP COLUMN — every
    // grouping column must be single-valued (or all-null) in the
    // file; the composite key is then file-constant too
    val ges = gFields.zip(gMaps).map { case (f, mp) =>
      col(mp).getItem(f.name) }
    val gAllNulls = ges.map(ge =>
      ge.isNotNull && ge.getField("nn") === col("n_rows"))
    val gOneVals = gFields.zip(ges).map { case (f, ge) =>
      ge.isNotNull && ge.getField("nn") === lit(0L) &&
        ge.getField("lo") === ge.getField("hi") &&
        (if (f.dataType == StringType) ge.getField("hi").isNotNull
         else lit(true)) }
    val gConstant = gAllNulls.zip(gOneVals)
      .map { case (an, ov) => an || ov }
      .reduce(_ && _)
    def cnt(cond: org.apache.spark.sql.Column) =
      coalesce(sum(org.apache.spark.sql.functions.when(cond, 1L)
        .otherwise(0L)), lit(0L))

    val isStr = (t: DataType) => t == StringType
    def entry(c: String, t: DataType) = {
      val mc = if (isStr(t)) "cstats_str" else "cstats_long"
      if (m0.columns.contains(mc)) col(mc).getItem(c)
      else lit(null).cast(
        if (isStr(t)) "struct<lo:string,hi:string,nn:bigint>"
        else "struct<lo:bigint,hi:bigint,nn:bigint>")
    }
    def needMin(c: String) = asks.exists { case AskMin(x, _) => x == c
                                           case _ => false }
    def needMax(c: String) = asks.exists { case AskMax(x, _) => x == c
                                           case _ => false }
    val mmAsks: Seq[(String, DataType)] = asks.collect {
      case AskMin(c, t) => (c, t)
      case AskMax(c, t) => (c, t)
      case AskCountCol(c, t) => (c, t)
      case AskSum(c, t) => (c, t) }.distinct
    val needSumC = asks.collect { case AskSum(c, _) => c }.toSet
    val perColAggs = mmAsks.zipWithIndex.flatMap { case ((c, t), i) =>
      val e = entry(c, t)
      Seq(
        cnt(e.isNull).as(s"__cg_$i"),
        (if (isStr(t) && needMin(c)) cnt(e.getField("nn") <
           col("n_rows") && length(e.getField("lo")) >= 64)
         else lit(0L)).as(s"__lb_$i"),
        (if (isStr(t) && needMax(c)) cnt(e.getField("nn") <
           col("n_rows") && e.getField("hi").isNull)
         else lit(0L)).as(s"__hb_$i"),
        min(e.getField("lo")).as(s"__lo_$i"),
        max(e.getField("hi")).as(s"__hi_$i"),
        coalesce(sum(col("n_rows") - e.getField("nn")), lit(0L))
          .as(s"__nn_$i")) ++
      (if (!needSumC(c)) Nil else Seq(
        sum(col("cstats_sum").getItem(c)).as(s"__sm_$i"),
        cnt(!coalesce(org.apache.spark.sql.functions
          .map_contains_key(col("cstats_sum"), lit(c)), lit(false)))
          .as(s"__smg_$i")))
    }
    // ONE manifest job: per-group rollups keyed by the proven group
    // values, with the guard counts riding the same aggregation
    val gvals = gAllNulls.zip(ges).zipWithIndex.map {
      case ((an, ge), i) => org.apache.spark.sql.functions
        .when(an, lit(null)).otherwise(ge.getField("lo"))
        .as(s"__g$i") }
    val grouped = live
      .withColumn("__gok",
        org.apache.spark.sql.functions.when(gConstant, 0L)
          .otherwise(1L))
      .groupBy(gvals: _*)
      .agg(cnt(col("__gok") === 1L).as("__bad"),
        (coalesce(sum(col("n_rows")), lit(0L)).as("__rows") +:
          perColAggs): _*)
      .collect()

    // all-or-nothing: any non-constant file, coverage gap, or
    // truncation guard anywhere refuses the whole batch
    if (grouped.exists(r => r.getLong(r.fieldIndex("__bad")) != 0L))
      return None
    for (((c, t), i) <- mmAsks.zipWithIndex) {
      val gap = grouped.exists(r =>
        r.getLong(r.fieldIndex(s"__cg_$i")) != 0L ||
        r.getLong(r.fieldIndex(s"__lb_$i")) != 0L ||
        r.getLong(r.fieldIndex(s"__hb_$i")) != 0L ||
        (needSumC(c) && r.getLong(r.fieldIndex(s"__smg_$i")) != 0L))
      if (gap) return None
    }
    val longMaxD = java.math.BigDecimal.valueOf(Long.MaxValue)
    val longMinD = java.math.BigDecimal.valueOf(Long.MinValue)
    def statVal(v: Any, t: DataType): Any =
      if (v == null) null
      else t match {
        case IntegerType => v.asInstanceOf[Number].intValue
        case ShortType => v.asInstanceOf[Number].shortValue
        case ByteType => v.asInstanceOf[Number].byteValue
        case StringType => org.apache.spark.unsafe.types.UTF8String
          .fromString(v.toString)
        case _ => v.asInstanceOf[Number].longValue
      }
    val colIdx = mmAsks.zipWithIndex.toMap
    val rows = grouped.toSeq.map { r =>
      def rv(n: String): Any = {
        val i = r.fieldIndex(n); if (r.isNullAt(i)) null else r.get(i)
      }
      def rl(n: String): Long = r.getLong(r.fieldIndex(n))
      val gvs = gFields.zipWithIndex.map { case (f, i) =>
        statVal(rv(s"__g$i"), f.dataType) }
      val vals: Seq[Any] = asks.map {
        case AskCount => rl("__rows"): Any
        case AskCountCol(c, t) => rl(s"__nn_${colIdx((c, t))}"): Any
        case AskMin(c, t) => statVal(rv(s"__lo_${colIdx((c, t))}"), t)
        case AskMax(c, t) => statVal(rv(s"__hi_${colIdx((c, t))}"), t)
        case AskSum(c, t) =>
          val i = colIdx((c, t))
          if (rl(s"__nn_$i") == 0L || rv(s"__sm_$i") == null) null
          else {
            val bd = rv(s"__sm_$i")
              .asInstanceOf[java.math.BigDecimal]
            if (bd.compareTo(longMaxD) > 0 ||
                bd.compareTo(longMinD) < 0) return None
            bd.longValueExact(): Any
          }
      }
      gvs ++ vals
    }
    val askFields = asks.zipWithIndex.map {
      case (AskCount, i) => org.apache.spark.sql.types
        .StructField(s"count_$i", LongType, nullable = false)
      case (AskCountCol(c, _), i) => org.apache.spark.sql.types
        .StructField(s"countc_${c}_$i", LongType, nullable = false)
      case (AskMin(c, t), i) => org.apache.spark.sql.types
        .StructField(s"min_${c}_$i", t)
      case (AskMax(c, t), i) => org.apache.spark.sql.types
        .StructField(s"max_${c}_$i", t)
      case (AskSum(c, _), i) => org.apache.spark.sql.types
        .StructField(s"sum_${c}_$i", LongType)
    }
    Some(MetaAgg(StructType(
      gFields.map(f => org.apache.spark.sql.types
        .StructField(f.name, f.dataType)) ++ askFields), rows))
  }
}

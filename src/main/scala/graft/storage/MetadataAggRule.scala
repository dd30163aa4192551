package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.storage.StatsSkipping.ColRange

/** METADATA-ONLY aggregates from the manifest stats sidecar — the
  * engine's analogue of Delta's metadata-only query optimization:
  * a global (ungrouped, unfiltered) `min(col)` / `max(col)` /
  * `count(*)` over a sidecar-bearing parquet table is answered from
  * the `_stats` sidecar alone, with NO data scan in the plan. At
  * 100 TB this is the difference between "count the fact table" being
  * a petabyte scan and a one-sidecar-read constant: per-file row
  * counts sum, per-file min/max fold, and the whole Aggregate rewrites
  * to a one-row projection of literals.
  *
  * ANSWERING is held to a stricter standard than SKIPPING: a skip
  * decision tolerates conservative-wide stats (extra IO, same rows);
  * an answer must be EXACT. Hence every bail-out below:
  *
  *  - only `Aggregate` with NO grouping, over a bare relation or a
  *    column-pruning `Project` of it — any `Filter`, join, or grouping
  *    in between means stats cannot answer, and the pattern simply
  *    does not match;
  *  - only `min`/`max` on columns whose recorded stat type is `long`
  *    (ints, dates as epoch days, timestamps as micros) or `decimal` —
  *    exactly the reference's clustering-key types. `double`/`float`
  *    stats are NOT answered: parquet footer min/max ordering for
  *    floating point is unreliable in the presence of NaN (parquet-mr
  *    drops or mis-orders such stats; see PARQUET-1222) and Spark
  *    orders NaN greatest — a skip survives that (wide never wrong),
  *    an answer does not. `string` stats are not answered either:
  *    footer binary stats may be dropped or truncated for long values,
  *    and a truncated max is not the max;
  *  - only `count(<non-null literal>)` (count(*) arrives as count(1));
  *    `count(col)` needs per-file null counts the sidecar does not
  *    record, and any DISTINCT or FILTER clause bails;
  *  - EVERY data file of the relation must carry the needed sidecar
  *    line (`#rows` for count, the column line for min/max — a file
  *    whose column chunk was all-null or stats-less records no line,
  *    which is indistinguishable from "unknown" and therefore bails);
  *  - min/max answers additionally require the file range to be exact
  *    for the file's bytes, which the sidecar lifecycle guarantees:
  *    commit and maintenance REWRITES recompute from footers, and
  *    carries reuse rows only for byte-identical files. Deletion
  *    vectors do not break this rule's correctness because this rule
  *    rewrites the RAW relation the pattern matched: a DV-masked read
  *    (DeletionVectors.read/readAt) is an anti-join ABOVE the scan, so
  *    the Aggregate-over-relation shape never matches it, and a raw
  *    `spark.table` read of a DV-bearing table sees exactly the raw
  *    file bytes the stats describe.
  *
  * Semantics preserved: SQL min/max ignore nulls, and so do parquet
  * footer stats (a non-null-bearing file contributes its non-null
  * range; an all-null file has no line and bails the rewrite); count(1)
  * counts every row, which is what `#rows` records.
  *
  * Registered with [[StatsSkippingRule]] via GraftExtensions or
  * [[StatsSkipping.installRule]].
  */
object MetadataAggRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      rewrite(agg).orElse(rewriteDvCount(agg)).getOrElse(agg)
  }

  /** Metadata-only `count(*)` THROUGH the deletion-vector mask: the most
    * common aggregate on a table that has ever seen a DELETE. The DV
    * read plans as `scan LEFT ANTI JOIN (dv sidecar)` — this recognizes
    * exactly the shape [[DeletionVectors.read]] produces after
    * optimization and answers `Σ #rows (stats sidecar) − count(DISTINCT
    * f, p) over the DV sidecar` — the DATA scan disappears; only the
    * bounded sidecar (metadata-scale between compactions) is read.
    * Exact-or-bail, like everything here:
    *
    *  - only ungrouped `count(<non-null literal>)` aggregates (a min/max
    *    cannot be answered under deletes — the deleted rows might hold
    *    the extremum — so ANY other aggregate keeps the scan);
    *  - the anti-join's LEFT must be a pure coordinate projection of a
    *    flat parquet relation — every projected expression derives ONLY
    *    from the `_metadata` struct (file/row coordinates), so left row
    *    count = raw file row count, with NO Filter in between;
    *  - the RIGHT must be (a projection of, optionally a Filter over)
    *    the SAME version directory's `_dv` sidecar, which maskAt reads
    *    as a path relation (no catalog entry names it) — verified by
    *    path: one distinct left parent D, right files under D/_dv. The
    *    sidecar's own `v <= bound` time-travel Filter is KEPT in the
    *    rewrite, so `readAt(v)` counts answer exactly as of v;
    *  - sentinel rows (p = -1, which match no data row) are filtered;
    *    `count(DISTINCT f, p)` collapses re-deleted coordinates and
    *    drops null coordinates — mirroring the anti-join's semantics
    *    exactly. Every non-sentinel entry references a live basename
    *    (the invariant DeletionVectors.stampVersion keeps), so each
    *    distinct pair subtracts exactly one live row.
    */
  private def rewriteDvCount(agg: Aggregate): Option[LogicalPlan] = {
    // Strip a pure column-pruning Project above the join, if any.
    val joined = agg.child match {
      case j: Join => Some(j)
      case Project(ps, j: Join)
        if ps.forall(_.isInstanceOf[AttributeReference]) => Some(j)
      case _ => None
    }
    joined.flatMap {
      case j @ Join(left, right, LeftAnti, Some(cond), _) =>
        for {
          (leftRel, leftProj) <- left match {
            case p @ Project(ps, lr: LogicalRelation)
              if ps.nonEmpty && ps.forall(ne =>
                ne.references.nonEmpty &&
                  ne.references.forall(_.name == "_metadata")) =>
              Some((lr, p))
            case _ => None
          }
          rel <- leftRel.relation match {
            case r: HadoopFsRelation
              if r.partitionSchema.isEmpty && r.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet
                  .ParquetFileFormat] => Some(r)
            case _ => None
          }
          // right: Project of bare f/p attrs over (Filter over)? the
          // SAME version's _dv sidecar, read by path
          (fOut, pOut, rightRel) <- right match {
            case p @ Project(ps, child) if ps.length == 2 =>
              val named = ps.flatMap {
                case al @ Alias(ar: AttributeReference, _) =>
                  Some(ar.name -> al.toAttribute)
                case ar: AttributeReference => Some(ar.name -> ar)
                case _ => None
              }.toMap
              val relOpt = child match {
                case lr: LogicalRelation => Some(lr)
                case Filter(fc, lr: LogicalRelation)
                  if fc.references.subsetOf(lr.outputSet) => Some(lr)
                case _ => None
              }
              for {
                f <- named.get("f"); pp <- named.get("p"); lr <- relOpt
                r <- lr.relation match {
                  case hr: HadoopFsRelation
                    if hr.partitionSchema.isEmpty => Some(hr)
                  case _ => None
                }
              } yield (f, pp, r)
            case _ => None
          }
          // condition: EXACTLY the anti-join maskAt builds — two
          // equalities, one binding the right `f` attribute to the
          // left projection's FILE-BASENAME expression (derives from
          // `_metadata.file_path` only) and the other binding `p` to
          // the ROW-INDEX expression (`_metadata.row_index` only).
          // Structural, per attribute (ADVICE r15): a hand-built
          // anti-join with CROSSED or duplicated keys (f against the
          // row index, or both equalities on f) passes a looser
          // reference-set check but subtracts the wrong rows — it must
          // keep its scan, not rewrite to a wrong count.
          _ <- {
            def conjuncts(e: Expression): Seq[Expression] = e match {
              case And(a, b) => conjuncts(a) ++ conjuncts(b)
              case x => Seq(x)
            }
            // The left attribute's defining expression, resolved through
            // the projection; the `_metadata` struct fields it reads.
            val defOf: Map[ExprId, Expression] = leftProj.projectList.map {
              case al: Alias => al.exprId -> al.child
              case ne => ne.exprId -> ne
            }.toMap
            def metaFields(e: Expression): Set[String] = e.collect {
              case g: GetStructField => g.extractFieldName
            }.toSet
            // Normalize each equality to (left side, right attr); bail
            // on any other shape.
            def sides(c: Expression): Option[(Expression, Attribute)] =
              c match {
                case EqualTo(a, b)
                  if a.references.subsetOf(leftProj.outputSet) &&
                    b.isInstanceOf[Attribute] &&
                    b.references.subsetOf(right.outputSet) =>
                  Some((a, b.asInstanceOf[Attribute]))
                case EqualTo(a, b)
                  if b.references.subsetOf(leftProj.outputSet) &&
                    a.isInstanceOf[Attribute] &&
                    a.references.subsetOf(right.outputSet) =>
                  Some((b, a.asInstanceOf[Attribute]))
                case _ => None
              }
            def leftReads(e: Expression): Option[Set[String]] = e match {
              case ar: AttributeReference =>
                defOf.get(ar.exprId).map(metaFields)
              case _ => None
            }
            val cs = conjuncts(cond).map(sides)
            val ok = cs.length == 2 && cs.forall(_.isDefined) && {
              val pairs = cs.flatten.flatMap { case (l, r) =>
                leftReads(l).map(fields => (fields, r.exprId))
              }
              pairs.length == 2 &&
                pairs.exists { case (fields, id) =>
                  fields == Set("file_path") && id == fOut.exprId } &&
                pairs.exists { case (fields, id) =>
                  fields == Set("row_index") && id == pOut.exprId }
            }
            if (ok) Some(()) else None
          }
          // path check: left lives in ONE directory D; right in D/_dv
          _ <- {
            val lp = rel.location.inputFiles
              .map(f => new Path(f).getParent.toString).distinct
            val rp = rightRel.location.inputFiles
              .map(f => new Path(f).getParent.toString).distinct
            if (lp.length == 1 && rp.length == 1 &&
              rp.head == new Path(lp.head, "_dv").toString) Some(())
            else None
          }
          // every left data file carries #rows in the stats sidecar
          total <- totalRowsOf(rel)
          // every aggregate must be count(<non-null literal>)
          _ <- {
            val offending = agg.aggregateExpressions.exists(_.exists {
              case ae: AggregateExpression =>
                ae.isDistinct || ae.filter.isDefined ||
                  (ae.aggregateFunction match {
                    case c: Count => c.children match {
                      case Seq(Literal(v, _)) => v == null
                      case _ => true
                    }
                    case _ => true
                  })
              case _ => false
            })
            if (offending) None else Some(())
          }
        } yield {
          val dvCount = AggregateExpression(
            Count(Seq(fOut, pOut)), Complete, isDistinct = true)
          // transformUp, NOT transformDown: the replacement itself
          // contains an AggregateExpression (the sidecar count), which
          // a top-down transform would re-match forever.
          val projected = agg.aggregateExpressions.map(_.transformUp {
            case _: AggregateExpression =>
              Subtract(Literal(total, LongType), dvCount)
          }.asInstanceOf[NamedExpression])
          Aggregate(Nil, projected,
            Filter(GreaterThanOrEqual(pOut, Literal(0L)), right))
        }
      case _ => None
    }
  }

  /** Σ `#rows` over every data file of the relation, None unless every
    * file records it (the count(*) building block, shared by the bare
    * and DV-masked rewrites). */
  private def totalRowsOf(rel: HadoopFsRelation): Option[Long] = {
    val spark = rel.sparkSession
    val files = rel.location.inputFiles
    if (files.isEmpty) return None
    val parents = files.map(f => new Path(f).getParent.toString).distinct
    val statsByDir = parents.flatMap { p =>
      val dir = new Path(p)
      if (!StatsSkipping.probeAllowed(spark, dir)) None
      else StatsSkipping.loadStats(spark, dir).map(p -> _)
    }.toMap
    val counts = files.toSeq.map { fp =>
      val p = new Path(fp)
      statsByDir.getOrElse(p.getParent.toString, Map.empty)
        .getOrElse(p.getName, Map.empty)
        .get(StatsSkipping.RowsCol)
    }
    if (counts.exists(c => c.isEmpty || c.get.tpe != "rows")) None
    else scala.util.Try(counts.map(_.get.min.toLong).sum).toOption
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val rel = agg.child match {
      case lr: LogicalRelation => Some(lr)
      case Project(ps, lr: LogicalRelation)
        if ps.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
      case _ => None
    }
    rel.flatMap(answerAll(agg, _))
  }

  private def answerAll(agg: Aggregate,
      lr: LogicalRelation): Option[LogicalPlan] = lr.relation match {
    case rel: HadoopFsRelation
      if rel.partitionSchema.isEmpty &&
        rel.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
      val spark = rel.sparkSession
      val files = rel.location.inputFiles
      if (files.isEmpty) return None // a scan of nothing is already free
      // Stats row per file, from its parent directory's sidecar.
      // Foreign dirs (outside the warehouse and the indexed roots) are
      // never probed — see StatsSkipping.probeAllowed.
      val parents = files.map(f => new Path(f).getParent.toString).distinct
      val statsByDir: Map[String, Map[String, Map[String, ColRange]]] =
        parents.flatMap { p =>
          val dir = new Path(p)
          if (!StatsSkipping.probeAllowed(spark, dir)) None
          else StatsSkipping.loadStats(spark, dir).map(p -> _)
        }.toMap
      val perFile: Seq[Map[String, ColRange]] = files.toSeq.map { fp =>
        val p = new Path(fp)
        statsByDir.getOrElse(p.getParent.toString, Map.empty)
          .getOrElse(p.getName, Map.empty)
      }

      // count(*): every file must record #rows; exact sum.
      lazy val totalRows: Option[Long] = {
        val counts = perFile.map(_.get(StatsSkipping.RowsCol))
        if (counts.exists(c => c.isEmpty || c.get.tpe != "rows")) None
        else scala.util.Try(counts.map(_.get.min.toLong).sum).toOption
      }

      // min/max(col): every file must record the column, one stat type,
      // and the (stat type, catalyst type) pair must answer exactly.
      def foldMinMax(a: AttributeReference, wantMax: Boolean
          ): Option[Literal] = {
        val ranges = perFile.map(_.get(a.name))
        if (ranges.exists(_.isEmpty)) return None
        val rs = ranges.map(_.get)
        val tpe = rs.head.tpe
        if (!rs.forall(_.tpe == tpe)) return None
        val enc = if (wantMax)
          rs.map(_.max).maxBy(identity)(statOrdering(tpe))
        else rs.map(_.min).minBy(identity)(statOrdering(tpe))
        toLiteral(a.dataType, tpe, enc)
      }

      def answer(ae: AggregateExpression): Option[Literal] =
        if (ae.isDistinct || ae.filter.isDefined) None
        else ae.aggregateFunction match {
          case Min(a: AttributeReference) => foldMinMax(a, wantMax = false)
          case Max(a: AttributeReference) => foldMinMax(a, wantMax = true)
          case c: Count => c.children match {
            case Seq(Literal(v, _)) if v != null =>
              totalRows.map(Literal(_, LongType))
            case _ => None
          }
          case _ => None
        }

      // All-or-nothing: one unanswerable aggregate keeps the whole node
      // (a half-rewritten Aggregate would still scan, gaining nothing).
      var ok = true
      val projected = agg.aggregateExpressions.map { ne =>
        ne.transform {
          case ae: AggregateExpression =>
            answer(ae) match {
              case Some(l) => l
              case None => ok = false; ae
            }
        }
      }
      if (!ok) None
      else Some(Project(
        projected.map(_.asInstanceOf[NamedExpression]), OneRowRelation()))
    case _ => None
  }

  /** Ordering of ENCODED stat strings under one stat type. */
  private def statOrdering(tpe: String): Ordering[String] =
    (x: String, y: String) => tpe match {
      case "long" => java.lang.Long.compare(x.toLong, y.toLong)
      case "decimal" => new java.math.BigDecimal(x)
        .compareTo(new java.math.BigDecimal(y))
      case _ => // never answered; any total order keeps fold defined
        x.compareTo(y)
    }

  /** The folded encoded stat as an EXACT literal of the column's
    * catalyst type — None when the pair has no exact mapping (which
    * keeps the scan; see the scaladoc's answering-vs-skipping bar).
    */
  private def toLiteral(dt: DataType, tpe: String,
      enc: String): Option[Literal] = (dt, tpe) match {
    case (LongType, "long") =>
      scala.util.Try(Literal(enc.toLong, LongType)).toOption
    case (IntegerType, "long") =>
      scala.util.Try(
        Literal(Math.toIntExact(enc.toLong), IntegerType)).toOption
    case (ShortType, "long") =>
      scala.util.Try {
        val v = enc.toLong
        require(v >= Short.MinValue && v <= Short.MaxValue)
        Literal(v.toShort, ShortType)
      }.toOption
    case (ByteType, "long") =>
      scala.util.Try {
        val v = enc.toLong
        require(v >= Byte.MinValue && v <= Byte.MaxValue)
        Literal(v.toByte, ByteType)
      }.toOption
    case (DateType, "long") =>
      scala.util.Try(
        Literal(Math.toIntExact(enc.toLong), DateType)).toOption
    case (TimestampType, "long") =>
      scala.util.Try(Literal(enc.toLong, TimestampType)).toOption
    case (TimestampNTZType, "long") =>
      scala.util.Try(Literal(enc.toLong, TimestampNTZType)).toOption
    case (d: DecimalType, "decimal") =>
      scala.util.Try {
        val bd = BigDecimal(new java.math.BigDecimal(enc))
          .setScale(d.scale) // throws if it would round: exactness bar
        require(bd.precision <= d.precision,
          "stat value outside the column's decimal precision")
        Literal(Decimal(bd, d.precision, d.scale), d)
      }.toOption
    case _ => None
  }
}

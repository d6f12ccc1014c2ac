package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types._

/** Optimizer rule answering a global `max`/`min` over a parquet table
  * from the files' row-group statistics, so the query reads footers on
  * the driver instead of scanning the column.
  *
  * The target is the `max(ts)` window anchor
  * ([[graft.queries.FraudAnalytics.anchorTs]]): the reference answers
  * its `NOW() - INTERVAL` windows from a btree on `event_time`
  * (`init.sql:19-21`), and a parquet footer already holds each row
  * group's exact min and max. Reading them costs O(files) at any
  * scale, where the scan and its two-stage aggregate cost O(rows) and
  * two Spark jobs per anchor.
  *
  * Fires only on a global `Aggregate` (no grouping) whose outputs are
  * all `max`/`min` of `f(col)`, over `Project`s only, on an
  * unfiltered, non-streaming parquet [[HadoopFsRelation]] (the exact
  * `ParquetFileFormat`, not a subclass that may carry row deletes).
  * `f` must be monotone non-decreasing, so `max f(col) = f(max col)`:
  *  - the bare column;
  *  - the TIMESTAMP_NTZ → TIMESTAMP cast, only under a fixed-offset
  *    time zone (a DST zone maps a spring-forward gap's wall times
  *    past the instants that follow it);
  *  - `timestamp_micros(x div k)` with a constant `k > 0` — the
  *    nanos-as-long shape of [[graft.sources.Tables.normalizeTs]].
  *
  * Empty and all-null row groups are skipped; with none left the
  * answer is NULL, as the aggregate's. The plan is left to the scan
  * when any row group holding values lacks a min/max (INT96, stats
  * disabled), when a footer cannot be read, when the column is a
  * partition column, missing, nested or of a type not read here, or
  * when a timestamp reaches back before 1900 (where Spark may rebase
  * legacy-calendar values on read).
  *
  * The answer keeps the aggregate's output attributes: inside a
  * subquery it is a one-row `Project` over `OneRowRelation`, which
  * Spark's `OptimizeOneRowRelationSubquery` then folds into the outer
  * plan as a literal; elsewhere it is a one-row `LocalRelation`,
  * which collects without a job. Installed by
  * [[graft.GraftSession.attach]] and [[graft.GraftExtensions]].
  */
object FooterMinMax extends Rule[LogicalPlan] {

  /** 1900-01-01T00:00:00Z in microseconds: Spark never rebases a
    * timestamp at or after it. */
  private val NoRebaseMicros = -2208988800000000L

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case agg: Aggregate if agg.groupingExpressions.isEmpty =>
        rewrite(agg, inSubquery = plan.isInstanceOf[Subquery]).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, inSubquery: Boolean): Option[LogicalPlan] = {
    val outs = agg.aggregateExpressions.flatMap(extremum)
    if (outs.isEmpty || outs.size != agg.aggregateExpressions.size) return None
    val (args, leaf) = inline(outs.map(_._3), agg.child)
    val answered = parquetRelation(leaf).toSeq.flatMap { fs =>
      outs.zip(args).flatMap { case ((alias, isMax, _), e) =>
        for {
          col   <- column(e, leaf)
          range <- footerRange(fs, col)
        } yield {
          val v = range.map { case (lo, hi) => if (isMax) hi else lo }
          val fv = v.map(x => e.transformUp {
            case a: Attribute if a.semanticEquals(col) => Literal(x, col.dataType)
          }.eval()).orNull
          alias.withNewChildren(Seq(Literal(fv, alias.child.dataType))).asInstanceOf[Alias]
        }
      }
    }
    if (answered.size != outs.size) None
    else if (inSubquery) Some(Project(answered, OneRowRelation()))
    else Some(LocalRelation(agg.output, Seq(InternalRow.fromSeq(answered.map(_.child.eval())))))
  }

  private def parquetRelation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _)
        if r.fileFormat.getClass == classOf[ParquetFileFormat] => Some(r)
    case _ => None
  }

  /** The one column of `leaf` that `e` is a monotone function of. */
  private def column(e: Expression, leaf: LogicalPlan): Option[Attribute] =
    e.references.toSeq match {
      case Seq(a) if leaf.outputSet.contains(a) && monotone(e, a) => Some(a)
      case _                                                      => None
    }

  /** `(alias, isMax, argument)` of a `max`/`min` output. */
  private def extremum(ne: NamedExpression): Option[(Alias, Boolean, Expression)] = ne match {
    case a @ Alias(AggregateExpression(Max(c), _, _, None, _), _) => Some((a, true, c))
    case a @ Alias(AggregateExpression(Min(c), _, _, None, _), _) => Some((a, false, c))
    case _ => None
  }

  /** The expressions rewritten onto the first non-`Project` below `p`. */
  @annotation.tailrec
  private def inline(es: Seq[Expression], p: LogicalPlan): (Seq[Expression], LogicalPlan) =
    p match {
      case Project(list, child) if list.forall(_.deterministic) =>
        val defs = AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
        inline(es.map(_.transformUp { case a: Attribute => defs.getOrElse(a, a) }), child)
      case other => (es, other)
    }

  private def monotone(e: Expression, col: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(col)
    case c: Cast if c.child.dataType == TimestampNTZType && c.dataType == TimestampType =>
      fixedOffset(c.timeZoneId.getOrElse(conf.sessionLocalTimeZone)) && monotone(c.child, col)
    case MicrosToTimestamp(d: IntegralDivide) if positiveConstant(d.right) =>
      monotone(d.left, col)
    case _ => false
  }

  private def fixedOffset(tz: String): Boolean =
    try DateTimeUtils.getZoneId(tz).getRules.isFixedOffset
    catch { case NonFatal(_) => false }

  private def positiveConstant(k: Expression): Boolean =
    k.foldable && (k.eval() match {
      case n: java.lang.Long    => n > 0
      case n: java.lang.Integer => n > 0
      case _                    => false
    })

  /** `Some(None)` when no row group holds a value; `None` when the
    * footers cannot answer. Values are in Spark's internal form of the
    * column's type (micros for timestamps). */
  private def footerRange(fs: HadoopFsRelation, col: Attribute): Option[Option[(Long, Long)]] = {
    if (fs.partitionSchema.fieldNames.exists(conf.resolver(_, col.name)) ||
        conf.getConfString("spark.sql.parquet.fieldId.read.enabled", "false").toBoolean) return None
    try {
      val hconf = fs.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConfWithOptions(fs.options)
      val chunks = fs.location.listFiles(Nil, Nil).flatMap(_.files).flatMap { f =>
        // the footer alone: `ParquetFileReader.open` also sets up a row
        // reader, about ten times the footer read's cost
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f.fileStatus, hconf), ParquetMetadataConverter.NO_FILTER)
        val fields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
          .filter(t => conf.resolver(t.getName, col.name))
        fields match {
          case Seq(t) if t.isPrimitive && readsAsIs(t.asPrimitiveType, col.dataType) =>
            footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { rg =>
              rg.getColumns.asScala.find(c => c.getPath.size == 1 && c.getPath.toArray.head == t.getName)
                .flatMap(chunkRange)
            }
          case _ => Seq(None)
        }
      }
      if (chunks.contains(None)) None
      else {
        val range = chunks.flatten.flatten.reduceOption((a, b) => (a._1 min b._1, a._2 max b._2))
        val rebased = col.dataType != LongType && range.exists(_._1 < NoRebaseMicros)
        if (rebased) None else Some(range)
      }
    } catch { case NonFatal(e) =>
      logDebug(s"graft: footers of ${fs.location.rootPaths.mkString(",")} left to the scan", e)
      None
    }
  }

  /** A chunk's `Some(range)`, `Some(None)` when it holds only nulls,
    * `None` when it holds values without a min/max. */
  private def chunkRange(c: ColumnChunkMetaData): Option[Option[(Long, Long)]] = {
    val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
    if (s != null && s.hasNonNullValue)
      Some(Some((s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
        s.genericGetMax.asInstanceOf[java.lang.Long].longValue)))
    else if (s != null && s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None)
    else None
  }

  /** Whether Spark reads the stored INT64 `t` as `dt` unchanged: a
    * plain or nanos-timestamp INT64 as a long, a micros timestamp as
    * the timestamp type of its UTC adjustment. Other units and
    * annotations are left to the scan. */
  private def readsAsIs(t: PrimitiveType, dt: DataType): Boolean =
    t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && ((t.getLogicalTypeAnnotation, dt) match {
      case (null, LongType) => true
      case (ts: TimestampLogicalTypeAnnotation, LongType) => ts.getUnit == TimeUnit.NANOS
      case (ts: TimestampLogicalTypeAnnotation, TimestampType | TimestampNTZType) =>
        ts.getUnit == TimeUnit.MICROS && ts.isAdjustedToUTC == (dt == TimestampType)
      case _ => false
    })
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, GetStructField, If, Literal, NamedExpression, Nondeterministic, Not, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** In-flight KQL transforms over a kafka-schema stream — the capability
  * the reference explicitly lacks: "The connector does not support
  * transformers. Prefer transformation … in Azure Data Explorer"
  * (reference: README.md:158-162), because Kafka Connect has no
  * expression engine. Spark does, so this engine offers the transform as
  * a composable PRE-STAGE in front of [[KustoSparkPipeline]]:
  *
  * {{{
  * val shaped = KqlTransform(source, topic = "events", valueSchema,
  *   "src | where vtype != 'debug' | extend vdouble = vlong * 2")
  * pipeline.start(shaped, checkpointDir)
  * }}}
  *
  * Records of `topic` have their JSON values parsed with `valueSchema`,
  * the KQL pipeline applied row-wise (where/extend/project — the
  * stream-safe subset, enforced at construction: summarize/join would
  * change the record model and fail there), and the surviving rows
  * re-encoded as JSON values. Records of other
  * topics (and tombstones, which must reach the sink's F1 filter intact)
  * pass through untouched. Kafka metadata (topic/partition/offset/key/
  * headers) rides along protected: a transform that drops or collides
  * with a metadata column fails loudly at compile time.
  *
  * One pass: the KQL is compiled over the target rows, then its plan is
  * re-rooted onto one projection of the whole source (filters become
  * `NOT target OR c`, computed columns `IF(target, e, NULL)`, the value
  * `IF(target, to_json(…), value)`), so each batch reads its source and
  * evaluates its projection once.
  *
  * Parse once: the struct `__v = IF(target, from_json(value), NULL)` is
  * computed in a projection of its own, and the KQL filters and the
  * re-encode read its fields above it. The parse sits in a [[ParseOnce]]
  * marker, because otherwise Catalyst pushes each filter below that
  * projection and inlines `from_json` (and the source's own `value`
  * expression) into it, parsing every target record twice. The executed
  * plan is then: the source and `target` in one codegen stage, the parse
  * as a plain projection (`from_json` is `CodegenFallback`, so it cannot
  * join a codegen stage), and the filters, extends and re-encode in a
  * second codegen stage. Every step is narrow (no shuffle), so the
  * pipeline's linear-in-partitions scaling is preserved; at-least-once
  * semantics are untouched because the stage is upstream of the
  * offset-gated sink.
  */
object KqlTransform {

  private val MetaCols = Seq("topic", "partition", "offset", "key", "headers")
  private val TargetCol = "__kql_target"

  def apply(df: DataFrame, topic: String, valueSchema: StructType, kql: String): DataFrame = {
    require(Set("topic", "value").subsetOf(df.columns.toSet),
      s"KqlTransform needs kafka-schema input (topic, value); got ${df.columns.mkString(", ")}")
    val meta = MetaCols.filter(df.columns.contains) // key/headers optional upstream
    val collisions = valueSchema.fieldNames.toSeq.intersect(MetaCols)
    require(collisions.isEmpty,
      s"value schema collides with kafka metadata columns: ${collisions.mkString(", ")}")
    // the one projection of the source every row goes through
    val base = df.select(meta.map(col) :+ col("value") :+
      coalesce(col("topic") === topic && col("value").isNotNull, lit(false)).as(TargetCol): _*)

    val parsed = base.filter(col(TargetCol))
      .withColumn("__v", GraftColumnBridge.column(ParseOnce(
        GraftColumnBridge.catalystExpression(from_json(col("value").cast("string"), valueSchema)))))
      .select(meta.map(col) ++ valueSchema.fieldNames.map(f => col(s"__v.$f").as(f)): _*)
    val transformed = graft.kql.KqlCompiler.compile(kql, _ => parsed)
    val missing = meta.filterNot(transformed.columns.contains)
    require(missing.isEmpty,
      s"KQL transform must not drop kafka metadata columns; lost: ${missing.mkString(", ")} " +
        "(use project-away on value fields only)")
    // Metadata must ride through UNMODIFIED — an `extend topic = ...` or
    // `project offset = ...` would corrupt routing/offset gating
    // downstream. An untouched column keeps its attribute id through the
    // compiled plan; any rewrite (extend/project alias/rename) mints a
    // new one, so id comparison detects semantic overwrites exactly.
    val sourceIds = parsed.queryExecution.analyzed.output.map(a => a.name -> a.exprId).toMap
    val outIds = transformed.queryExecution.analyzed.output.map(a => a.name -> a.exprId).toMap
    val overwritten = meta.filter(m => sourceIds.get(m).exists(id => !outIds.get(m).contains(id)))
    require(overwritten.isEmpty,
      s"KQL transform must not overwrite kafka metadata columns: ${overwritten.mkString(", ")} " +
        "(extend/project may only target value fields)")
    val valueCols = transformed.columns.filterNot(meta.contains)
    require(valueCols.nonEmpty, "KQL transform removed every value field")
    val reEncoded = transformed.select(
      meta.map(col) :+
        to_json(struct(valueCols.map(col): _*)).cast(df.schema("value").dataType).as("value"): _*)

    // Re-root the target-only plan onto `base`, so the source is scanned
    // once: every row flows through, carrying its original value and the
    // target flag; filters and computed columns apply to target rows only.
    val baseOut = base.queryExecution.analyzed.output
    val (value, target) = (baseOut(meta.size), baseOut.last)
    def guarded(e: NamedExpression): NamedExpression = e match {
      case a @ Alias(_: GetStructField, _) => a // a parsed field: null off target already
      case a: Alias =>
        Alias(If(target, a.child, Literal(null, a.child.dataType)), a.name)(
          a.exprId, a.qualifier, a.explicitMetadata, a.nonInheritableMetadataKeys)
      case other => other
    }
    def carried(p: LogicalPlan): LogicalPlan = p match {
      case Filter(c, child) if c.semanticEquals(target) => child // parsed's filter, over `base`
      case Filter(c, child) => Filter(Or(Not(target), c), carried(child))
      case Project(list, child) =>
        val ids = list.map(_.exprId).toSet
        Project(list.map(guarded) ++ Seq(value, target).filterNot(a => ids(a.exprId)), carried(child))
      case SubqueryAlias(id, child) => SubqueryAlias(id, carried(child))
      case other =>
        throw new IllegalArgumentException(
          s"KQL transform must be row-wise (where, extend, project…); `${other.nodeName}` is not")
    }
    val Project(metaOut :+ (encoded: Alias), body) = reEncoded.queryExecution.analyzed
    GraftColumnBridge.ofRows(df.sparkSession,
      Project(metaOut :+ Alias(If(target, encoded.child, value), "value")(), carried(body)))
  }
}

/** Evaluates its child unchanged, once per row, where the plan computes
  * it. Being nondeterministic, it keeps the optimizer from pushing a
  * filter below the projection that holds it (`PushPredicateThroughNonJoin`)
  * and from inlining it into the projection above (`CollapseProject`), so
  * the parse it wraps runs once and filters read the parsed fields. The
  * same idiom as `UserDefinedFunction.asNondeterministic`; needs no rule or
  * strategy on the session. */
private[pipeline] case class ParseOnce(child: Expression)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(newChild: Expression): ParseOnce = copy(child = newChild)
}

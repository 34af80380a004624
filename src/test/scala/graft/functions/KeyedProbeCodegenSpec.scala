package graft.functions

import graft.GraftFunctions
import graft.sketch.SketchKind
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Whole-stage codegen of the five keyed probes: over every admitted key
  * type the probe sits inside a WholeStageCodegen span as directly
  * generated code (no CodegenFallback), and its generated output equals
  * the interpreted one row for row, null keys and null sketches included.
  * Codegen fallback is disabled, so a Janino error fails the query. */
class KeyedProbeCodegenSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-keyed-codegen-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val probes = Seq("cqf_count" -> SketchKind.CqfKind, "cqf_contains" -> SketchKind.CqfKind,
    "cms_estimate" -> SketchKind.CmsKind, "ss_estimate" -> SketchKind.SsKind,
    "bloom_might_contain" -> SketchKind.BloomKind)
  private val keyTypes = Seq("tinyint", "smallint", "int", "bigint", "string", "binary")

  /** The kind's sketch over ids [lo, lo + 100): the long keys merged with
    * the strings 'w<id>', or only the one a frequent-items sketch probed by
    * `bytesKeys` holds (it keeps either long or byte keys). */
  private def sketch[S >: Null <: AnyRef](kind: SketchKind[S], lo: Int,
      bytesKeys: Boolean): Array[Byte] = {
    val keys = if (kind != SketchKind.SsKind) Seq("id", "concat('w', id)")
      else if (bytesKeys) Seq("concat('w', id)") else Seq("id")
    val row = spark.range(lo, lo + 100).coalesce(1)
      .selectExpr(keys.map(k => s"${kind.fn}_agg($k)"): _*).head()
    kind.write(keys.indices.map(i => kind.read(row.getAs[Array[Byte]](i)))
      .reduce(kind.mergeInPlace))
  }

  /** 2,000 rows: the sketch alternates between two images and is null on
    * every 50th row; the key is null on every 7th row. */
  private def probed(fn: String, kind: SketchKind[_ >: Null <: AnyRef], keyType: String): DataFrame = {
    val bytesKeys = keyType == "string" || keyType == "binary"
    val (a, b) = (sketch(kind, 0, bytesKeys), sketch(kind, 60, bytesKeys))
    val key = keyType match {
      case "string" => "concat('w', id % 120)"
      case "binary" => "CAST(concat('w', id % 120) AS BINARY)"
      case t => s"CAST(id % 120 - 20 AS $t)"
    }
    spark.range(0, 2000)
      .select(
        when(col("id") % 50 === 0, lit(null).cast("binary"))
          .when(col("id") % 2 === 0, lit(a)).otherwise(lit(b)).as("sk"),
        expr(s"CASE WHEN id % 7 = 0 THEN NULL ELSE $key END").as("k"))
      .selectExpr(s"$fn(sk, k) AS v", "sk IS NULL OR k IS NULL AS null_in")
  }

  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("keyed probes are generated inside WholeStageCodegen, never CodegenFallback") {
    for ((fn, kind) <- probes; t <- keyTypes) withCodegen(on = true) {
      val plan = probed(fn, kind, t).queryExecution.executedPlan
      val inSpan = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(_.collect { case p: ProjectExec => p.projectList }).flatten
        .flatMap(_.collect { case e if e.prettyName == fn => e })
      assert(inSpan.nonEmpty, s"$fn over $t is not inside a WholeStageCodegen span:\n$plan")
      inSpan.foreach(e => assert(!e.isInstanceOf[CodegenFallback], s"$fn over $t: $e"))
    }
  }

  test("generated output equals interpreted output, nulls included") {
    for ((fn, kind) <- probes; t <- keyTypes) {
      val gen = withCodegen(on = true)(probed(fn, kind, t).collect().toSeq)
      val interp = withCodegen(on = false)(probed(fn, kind, t).collect().toSeq)
      assert(gen == interp, s"$fn over $t")
      assert(gen.forall(r => r.isNullAt(0) == r.getBoolean(1)), s"$fn over $t: null in, null out")
      assert(gen.exists(r => !r.isNullAt(0) && r.get(0) != 0L && r.get(0) != false),
        s"$fn over $t never hits a present key")
    }
  }
}

package graft

import graft.jobs.{BuildSketches, TokenGen}
import graft.ops.{AnnOps, IncrementalDedup, TextOps}
import graft.util.StagedRun
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

/** Kill matrix over the three state pipelines: each batch is killed at
  * the stage boundaries it passes ([[StagedRun.onBoundary]]), resumed by
  * re-running the same call, and followed by the later batches; after
  * every batch the answer must equal an uninterrupted run's. Two kinds
  * of kill:
  *  - between stages: the hook throws. A boundary that follows a stage
  *    which changed no part file leaves the state dir as the boundary
  *    before it did, so such a boundary is the same kill as that one —
  *    and a kill at a batch's first boundary leaves the state the
  *    uninterrupted run started from. The matrix kills at each boundary
  *    that follows a change;
  *  - mid-commit, at each boundary that follows a stage which added part
  *    files: the hook deletes every second one of them, by sorted name
  *    (the state-dir listing diffed against the previous boundary's),
  *    then throws — a commit that published only some of its files.
  * The kills run in chains that start from a copy of the uninterrupted
  * run's state (see `matrix`), so no batch is replayed. */
class StagedKillMatrixSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-kill-matrix-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Run `call` with `hook` as this thread's boundary hook. */
  private def withHook[T](hook: (String, String) => Unit)(call: => T): T = {
    StagedRun.onBoundary.set(hook)
    try call finally StagedRun.onBoundary.remove()
  }

  private final class Killed extends RuntimeException("killed by the kill matrix")

  /** Visible part files under `root`, relative to it. */
  private def partFiles(root: String): Set[String] = {
    val base = new File(root).toPath
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(walk)
      else Seq(f)
    walk(new File(root)).filter(_.getName.startsWith("part-"))
      .map(f => base.relativize(f.toPath).toString).toSet
  }

  /** A kill at the boundary before `stage`: between stages, or in the
    * middle of the commit of the stage before it. */
  private case class Kill(stage: String, midCommit: Boolean) {
    override def toString: String =
      s"${if (midCommit) "mid-commit" else "between-stage"} kill before '$stage'"
  }

  /** Run `call` recording the kills it admits: a between-stage kill at
    * each boundary that follows a change of the part files, and a
    * mid-commit kill at each one that follows added part files. */
  private def killsOf(root: String)(call: => Unit): Seq[Kill] = {
    val kills = Seq.newBuilder[Kill]
    var files = partFiles(root)
    withHook { (_, stage) =>
      val now = partFiles(root)
      if (now != files) kills += Kill(stage, midCommit = false)
      if ((now -- files).nonEmpty) kills += Kill(stage, midCommit = true)
      files = now
    }(call)
    kills.result()
  }

  /** Run `call` and kill it as `kill` says; a mid-commit kill first
    * deletes every second part file the last stage added. */
  private def killAt(root: String, kill: Kill)(call: => Unit): Unit = {
    var files = partFiles(root)
    val hook: (String, String) => Unit = { (_, stage) =>
      val now = partFiles(root)
      if (stage == kill.stage) {
        if (kill.midCommit) (now -- files).toSeq.sorted.zipWithIndex.foreach {
          case (f, i) if i % 2 == 0 =>
            val part = new File(root, f)
            new File(part.getParent, s".${part.getName}.crc").delete()
            assert(part.delete(), s"could not delete $part")
          case _ => ()
        }
        throw new Killed
      }
      files = now
    }
    withHook(hook)(intercept[Killed](call))
  }

  /** Copy the tree at `from` into the directory `to`. */
  private def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (new File(from).toPath, new File(to).toPath)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally walk.close()
  }

  /** Record every batch's kills on an uninterrupted run, keeping a copy
    * of its state before each batch, then run chains: chain c starts
    * from the copy before the first batch with a c-th kill, kills each
    * batch b with its c-th kill (none once they are used up), resumes it
    * by re-running the same call, goes on to the next batch, and after
    * every batch compares `answer` with the uninterrupted run's. So every
    * kill is followed by its resume and by the remaining batches, and no
    * batch before it is replayed. The chains run on four threads, each
    * in its own state dir (the hook is per thread). Returns the failed
    * chains and the uninterrupted run's final answer. */
  private def matrix[A](name: String, batches: Seq[String => Unit],
      answer: String => A): (Seq[String], A) = {
    val reference = Files.createTempDirectory(s"graft_kill_${name}_ref").toString
    val (preBatch, kills, want) = batches.zipWithIndex.map { case (batch, b) =>
      val snapshot = Files.createTempDirectory(s"graft_kill_${name}_pre$b").toString
      copyTree(reference, snapshot)
      (snapshot, killsOf(reference)(batch(reference)), answer(reference))
    }.unzip3
    def chain(c: Int): Option[String] = {
      val work = Files.createTempDirectory(s"graft_kill_${name}_$c").toString
      val first = kills.indexWhere(_.length > c)
      copyTree(preBatch(first), work)
      val plan = kills.map(_.lift(c))
      val failure = batches.indices.drop(first).iterator.map { b =>
        scala.util.Try {
          plan(b).foreach(killAt(work, _)(batches(b)(work)))
          batches(b)(work)
          answer(work)
        } match {
          case scala.util.Success(got) if got == want(b) => None
          case scala.util.Success(_) => Some(s"batch $b: the resumed answer differs")
          case scala.util.Failure(e) => Some(s"batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }.collectFirst { case Some(f) => f }
      graft.util.ParquetState.deleteRecursively(new File(work))
      failure.map(f => s"$name chain $c (${plan.zipWithIndex.map { case (k, b) =>
        s"batch $b: ${k.getOrElse("no kill")}" }.mkString("; ")}) failed at $f")
    }
    val chains = kills.map(_.length).max
    info(s"kills per batch: ${kills.map(_.length).mkString(", ")}; $chains chains")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val pending = (0 until chains).map(c => pool.submit(() => chain(c)))
      (pending.flatMap(_.get()), want.last)
    } finally {
      pool.shutdown()
      (reference +: preBatch).foreach(d => graft.util.ParquetState.deleteRecursively(new File(d)))
    }
  }

  test("BuildSketches: a build killed at every boundary resumes to the same sketch bytes") {
    val input = TokenGen.generate(spark, 400, vocab = 300).cache()
    val cfg = BuildSketches.Config(kind = "hll", salts = 2, hllP = 8)
    def bytes(dir: String): Map[String, Seq[Byte]] =
      BuildSketches.run(spark, input, s"$dir/ckpt", cfg).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val (failures, want) = matrix("build", Seq(dir => bytes(dir)), bytes)
    input.unpersist()
    assert(want.size == TokenGen.Sources.size)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** 60 documents of 40 words: ids i, i + 20 and i + 40 share a template
    * and land in three different batches; the variants i + 20 and i + 40
    * change one word each, so each template holds two near-dup pairs
    * (Jaccard 0.85 over 3-shingles) and one rejected candidate (0.73). */
  private lazy val dedupDocs: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (0L until 60L).map { id =>
      val (template, variant) = (id % 20, (id / 20).toInt)
      val words = (0 until 40).map(j =>
        if (variant > 0 && j == variant * 13) s"v$variant" else s"w${template}_$j")
      (id, words.mkString(" "))
    }.toDF("doc_id", "text").cache()
  }

  test("IncrementalDedup: three batches killed at every boundary resume to the same pairs") {
    def batch(b: Int)(state: String): Unit =
      IncrementalDedup.run(spark, dedupDocs.where(pmod(col("doc_id"), lit(3)) === b),
        TextOps.tokens(col("text")), col("doc_id"), state, s"b$b")
    def pairs(state: String): Set[(Long, Long, Long, Long)] =
      IncrementalDedup.allPairs(spark, state).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (failures, want) = matrix("incdedup", (0 until 3).map(b => batch(b) _), pairs)
    assert(want.size == 40, s"the fixture plants 40 near-dup pairs, found ${want.size}")
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("IVF index: a base build and two appends killed at every boundary serve the same top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 120).cache()
    def part(b: Int): DataFrame = emb.where(pmod(col("vec_id"), lit(3)) === b)
    val nCells = 8
    val batches: Seq[String => Unit] = Seq(
      idx => AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
        nCells = nCells, kmeansIters = 2),
      idx => AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1"),
      idx => AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d2"))
    def topK(idx: String): Seq[Set[(Long, Int, Long)]] = Seq(nCells, 2).map { nProbe =>
      AnnOps.ivfTopKFromIndex(spark, idx, emb.where(col("vec_id") < 10),
        col("vec_id"), col("embedding"), k = 3, nProbe = nProbe)
        .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    val (failures, want) = matrix("ivf", batches, topK)
    emb.unpersist()
    assert(want.forall(_.size == 30), want)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

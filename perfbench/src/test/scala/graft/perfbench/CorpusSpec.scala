package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.etl.{Load, Pipeline, Schema}

/** The corpus generator's manifest is what the pipeline's output is
  * checked against, so a tiny corpus must round-trip through
  * `Pipeline.extractRefine` to exactly the recorded counts and sums.
  */
class CorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A temp dir for `body`, deleted after it. */
  private def withDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("perfbench-corpus")
    try body(dir.toString)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  test("a tiny corpus round-trips through extract + refine to its manifest") {
    withDir { dir =>
      // 3 months: sinopac writes XLSX, a legacy .xls, XLSX
      val m = Corpus.write(dir, seed = 3, months = 3, rowsPerFile = 12,
        corruptFile = true)
      assert(m.files == 3 * 5 + 1 && m.filesByFormat("xls") == 1)
      assert(m.rows == 3 * 5 * 12)
      val cfg = Pipeline.loadConfigs(spark, s"$dir/example/configs")
      val refined = Pipeline.extractRefine(spark, s"$dir/data", cfg).cache()

      assert(refined.count() == m.rows)
      val byBank = refined.groupBy(Schema.BankName).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byBank == m.rowsByBank)
      val types = refined.groupBy(Schema.TxnType).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(types.getOrElse(Schema.TxnTypes.Payment, 0L) == m.payments)
      assert(types.getOrElse(Schema.TxnTypes.Credit, 0L) == m.credits)
      assert(types.getOrElse(Schema.TxnTypes.Fee, 0L) == m.fees)
      val sums = refined.groupBy(Schema.CardNo).agg(sum(Schema.PayAmount))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(sums == m.sumByCard.map { case (k, v) => k -> v.toDouble })
      refined.unpersist()
    }
  }

  test("the same seed writes the same corpus; another seed does not") {
    def corpus(seed: Long) = withDir { dir =>
      val m = Corpus.write(dir, seed, months = 1, rowsPerFile = 20,
        corruptFile = false)
      val files = new java.io.File(s"$dir/data").listFiles().sortBy(_.getName)
        .filterNot(_.getName.endsWith(".xlsx")) // zip entries carry times
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
      (m, files.toSeq)
    }
    assert(corpus(5) == corpus(5))
    assert(corpus(5)._1 != corpus(6)._1)
  }

  // the job writes Bills.db from the same refined plan it cached shaped
  // for the parquet write, so the sink must not re-run extract + refine
  test("the Bills.db sink is served from the cached warehouse frame") {
    withDir { dir =>
      Corpus.write(dir, seed = 4, months = 1, rowsPerFile = 8,
        corruptFile = false)
      val cfg = Pipeline.loadConfigs(spark, s"$dir/example/configs")
      val refined = Pipeline.extractRefine(spark, s"$dir/data", cfg)
      val shaped = Load.toWarehouseShape(refined).cache()
      try assert(Load.toWarehouseShape(refined).queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty)
      finally shaped.unpersist()
    }
  }
}

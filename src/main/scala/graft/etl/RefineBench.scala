package graft.etl

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Refine-stage throughput harness: synthesize `args(1)` unified rows
  * (deterministic mix of payment keywords, e.Point strings, wallets,
  * foreign rows, dual cards, nulls), write the stage CSV, run OUR refine
  * timed, and leave the directory ready for `tools/compare_refine.py` to
  * run the REFERENCE refine.py on the identical input — equivalence plus
  * a single-node throughput comparison in one artifact.
  */
object RefineBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 1) args(1).toLong else 200000L
    val spark = GraftSession(8)
    // split the single stage CSV into ~8MB tasks: the refine pipeline is
    // narrow and coalesce(1) concatenates splits in offset order, so the
    // stage parallelizes across cores with row order preserved
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    ExampleData.write(dir) // configs
    import Schema._

    val id = col("id")
    val df = spark.range(n)
      .withColumn(TxnDate,
        date_format(date_add(lit("2024-01-01").cast("date"),
          pmod(id, lit(400)).cast("int")), "yyyy-MM-dd"))
      .withColumn(PostDate, col(TxnDate))
      .withColumn(Merchant, elt(pmod(id, lit(16)) + 1,
        lit("網路銀行繳款"), lit("現金回饋活動"),
        concat(lit("LINE PAY－餐廳_"), pmod(id, lit(97))),
        lit("加油站"), lit("STEAMGAMES.COM"),
        lit("使用e point 1,000 點折現金 100 元"),
        concat(lit("統一超商_"), pmod(id, lit(53))), lit("手續費"),
        lit("年費帳單"), lit("蝦皮購物"), lit("全聯福利中心"), lit("調整"),
        // adversarial: csv-quoting, embedded quotes, padding, full-width
        lit("咖啡, 店"), lit("say \"hi\" store"), lit("  超商回饋  "),
        lit("ＬＰＥＰＩ商店")))
      .withColumn(Location, elt(pmod(id, lit(4)) + 1,
        lit("TW"), lit("JP"), lit("US"), lit("")))
      .withColumn(ConsumptionPlace, lit(""))
      .withColumn(Currency, elt(pmod(id, lit(3)) + 1,
        lit("TWD"), lit("JPY"), lit("")))
      .withColumn(ConvDate, lit(""))
      .withColumn(Amount,
        when(pmod(id, lit(7)) === 0, lit(null))
          .otherwise((pmod(id, lit(100000)) - 20000) / 10.0))
      .withColumn(CurrAmount,
        when(pmod(id, lit(5)) === 0, (pmod(id, lit(9000))) / 100.0)
          .otherwise(lit(null)))
      .withColumn(PayAmount, col(Amount))
      .withColumn(PayCurrency, lit("TWD"))
      .withColumn(TxnType, lit(""))
      .withColumn(MobilePay, lit(""))
      .withColumn(CardType, lit(""))
      .withColumn(CardNo, elt(pmod(id, lit(5)) + 1,
        lit("1111"), lit("4444"), lit("1111/2222"), lit(""), lit("9876")))
      .withColumn(BankName, elt(pmod(id, lit(4)) + 1,
        lit("esun_bank"), lit("cube_bank"), lit("ctbc_bank"),
        lit("hncb_bank")))
      .select(extractOrder.map(col): _*)
    Load.writeCsv(df, s"$dir/data/result_all_banks.csv", bom = false)

    val cfg = Pipeline.loadConfigs(spark, s"$dir/configs")
    val input = Load.readStageCsv(spark, s"$dir/data/result_all_banks.csv")
    val t0 = System.nanoTime()
    val refined = Refine.refine(input, cfg.cards, cfg.payments,
      cfg.merchants, cfg.keywords)
    Load.writeCsv(refined, s"$dir/data/refined_all_banks_spark.csv",
      bom = false)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"SPARK_REFINE_SECONDS=$secs%.2f ROWS=$n")
    // same refine without the serial single-file-CSV contract: parallel
    // parquet sink — the deployment shape at warehouse scale
    val t1 = System.nanoTime()
    Refine.refine(input, cfg.cards, cfg.payments, cfg.merchants,
        cfg.keywords)
      .write.mode("overwrite").parquet(s"$dir/data/refined_parquet")
    val psecs = (System.nanoTime() - t1) / 1e9
    println(f"SPARK_REFINE_PARQUET_SECONDS=$psecs%.2f ROWS=$n")
    spark.stop()
  }
}

package graft.perfbench

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import graft.etl.{ExampleData, Xls, Xlsx}

/** Seeded statement corpus for the pipeline workloads.
  *
  * Writes `months × 5` statement files — one per bank and billing month —
  * in the five source formats the extract layer reads: esun UTF-8 CSV
  * (ROC filename, preamble junk, master rows, foreign splits, e.Point),
  * cube UTF-8 CSV (dual card numbers, combined location/currency), ctbc
  * Big5 CSV, hncb Big5 HTML (decoy table, starred master rows) and sinopac
  * XLSX, with every second month as a legacy BIFF `.xls`. The rule tables
  * are the shipped `ExampleData` configs; spreadsheets go through the
  * engine's own writers (`Xlsx.writeSheets`, `Xls.writeFirstSheet`).
  *
  * The returned [[Manifest]] records what the refined output must hold:
  * surviving rows per bank, dropped master/junk rows, payment/credit/fee
  * counts, and payment-amount sums per output card number. All amounts
  * are whole TWD, so every sum is exact in double arithmetic.
  */
object Corpus {

  final case class Manifest(
      files: Int,
      filesByFormat: Map[String, Int],
      corruptFiles: Int,
      rowsByBank: Map[String, Long],
      masterRows: Long,
      junkRows: Long,
      payments: Long,
      credits: Long,
      fees: Long,
      sumByCard: Map[String, Long]) {
    def rows: Long = rowsByBank.values.sum

    def toJson: String = Json.obj(
      "files" -> files, "files_by_format" -> filesByFormat,
      "corrupt_files" -> corruptFiles, "rows" -> rows,
      "rows_by_bank" -> rowsByBank, "master_rows" -> masterRows,
      "junk_rows" -> junkRows, "payments" -> payments,
      "credits" -> credits, "fees" -> fees, "sum_by_card" -> sumByCard)
  }

  /** One surviving transaction row before rendering: `shown` is the
    * amount cell as written, `pay` the payment_amount refine must derive.
    * `card` is the raw card field (or the block's master text for
    * master-row banks); `outCard` is the card_no the output must show.
    */
  private final case class Txn(day: Int, merchant: String,
                               shown: Option[Long], pay: Long,
                               foreign: Option[String], kind: Kind,
                               card: String, outCard: String)

  private sealed trait Kind
  private case object Purchase extends Kind
  private case object PaymentRow extends Kind
  private case object CreditRow extends Kind
  private case object FeeRow extends Kind

  // Big5-encodable, keyword-free merchant names (no 繳款/轉帳/回饋/調整/
  // 手續費/年費/代收/運費/e point), so only the rows generated as
  // payments/credits/fees classify as such.
  private val shops = Vector("全聯福利中心", "好食餐廳", "咖啡店", "加油站",
    "書店", "百貨公司", "便利商店", "藥局", "電影院", "麵包店", "好市多",
    "LINE PAY－好食餐廳忠孝店", "街口支付－夜市小吃", "ECPay綠界－網路商店")

  private final case class Bank(id: String, cards: Vector[(String, String)])
  // (raw card field or master text, refined card_no)
  private val esun = Bank("esun_bank", Vector(
    "卡號：1111-2222-3333-4444（玉山Unicard－正卡）" -> "4444",
    "卡號：5555-6666-7777-8888（玉山Pi－附卡）" -> "8888"))
  private val cube = Bank("cube_bank", Vector(
    "1111/2222" -> "9999", "3333/4444" -> "3333"))
  private val ctbc = Bank("ctbc_bank", Vector("5678" -> "5678", "2468" -> "2468"))
  private val hncb = Bank("hncb_bank", Vector(
    "華南經典卡************9876" -> "9876",
    "華南悠遊卡************4321" -> "4321"))
  private val sinopac = Bank("sinopac_bank", Vector(
    "7777" -> "7777", "1357" -> "1357"))

  /** Write the corpus under `dir/data` and the rule tables under
    * `dir/example/configs`; returns the manifest.
    */
  def write(dir: String, seed: Long, months: Int, rowsPerFile: Int,
            corruptFile: Boolean): Manifest = {
    require(months >= 1 && months <= 12, s"months must be 1..12, got $months")
    require(rowsPerFile >= 8, s"rowsPerFile must be >= 8, got $rowsPerFile")
    val data = Paths.get(dir, "data")
    Files.createDirectories(data)
    ExampleData.write(s"$dir/example")

    val rowsByBank = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sumByCard = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val formats = mutable.Map.empty[String, Int].withDefaultValue(0)
    var masters, junk, payments, credits, fees = 0L

    def tally(bank: Bank, txns: Seq[Txn]): Unit = txns.foreach { t =>
      rowsByBank(bank.id) += 1
      t.kind match {
        case PaymentRow => payments += 1
        case CreditRow => credits += 1
        case FeeRow => fees += 1
        case Purchase =>
      }
      sumByCard(t.outCard) += t.pay
    }

    for (month <- 1 to months) {
      val rng = new SplittableRandom(seed * 1000003L + month)
      val mm = f"$month%02d"
      def md(day: Int) = f"$month%02d/$day%02d"

      // ---- esun: UTF-8 CSV, ROC filename, masters carry the card
      val esunTx = txns(rng, esun, rowsPerFile, masterCarded = true,
        foreignShare = 5, epoint = true)
      val esunLines = mutable.ArrayBuffer(
        "帳單說明：本期帳單", "會員資訊,,,,,",
        "交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額")
      blocks(esunTx).foreach { case (master, block) =>
        esunLines += s"${md(1)},${md(2)},,$master,,"
        masters += 1
        block.foreach { t =>
          esunLines += Seq(md(t.day), md(t.day + 1), "", t.merchant,
            t.foreign.getOrElse(""), t.shown.map(_.toString).getOrElse(""))
            .map(csvField).mkString(",")
        }
      }
      esunLines += "本期應繳總額請於期限內繳清,,,,,"
      junk += 1
      put(data.resolve(s"玉山113年${month}月帳單.csv"),
        esunLines.mkString("", "\n", "\n"), "UTF-8")
      tally(esun, esunTx)
      formats("csv_utf8") += 1

      // ---- cube: UTF-8 CSV, dual card numbers, "loc / currency"
      val cubeTx = txns(rng, cube, rowsPerFile, masterCarded = false,
        foreignShare = 0, epoint = false)
      val cubeLines = mutable.ArrayBuffer("國泰世華信用卡電子帳單",
        "信用卡號,交易日,入帳日,卡號末四碼,交易說明,臺幣金額,消費地/幣別")
      cubeTx.foreach { t =>
        cubeLines += Seq("CUBE卡", md(t.day), md(t.day + 1), t.card,
          t.merchant, t.shown.get.toString, "TW / TWD")
          .map(csvField).mkString(",")
      }
      put(data.resolve(s"國泰2024${mm}帳單.csv"),
        cubeLines.mkString("", "\n", "\n"), "UTF-8")
      tally(cube, cubeTx)
      formats("csv_utf8") += 1

      // ---- ctbc: Big5 CSV, full and short date forms
      val ctbcTx = txns(rng, ctbc, rowsPerFile, masterCarded = false,
        foreignShare = 0, epoint = false)
      val ctbcLines = mutable.ArrayBuffer(
        "消費日期,入帳日期,卡號末四碼,商店名稱,臺幣金額,外幣金額,幣別")
      ctbcTx.foreach { t =>
        val date = if (t.day % 2 == 0) s"2024/${md(t.day)}" else md(t.day)
        ctbcLines += Seq(date, md(t.day + 1), t.card, t.merchant,
          t.shown.get.toString, "", "").map(csvField).mkString(",")
      }
      put(data.resolve(s"中信2024$mm.csv"),
        ctbcLines.mkString("", "\n", "\n"), "Big5")
      tally(ctbc, ctbcTx)
      formats("csv_big5") += 1

      // ---- hncb: Big5 HTML, decoy table, starred master rows
      val hncbTx = txns(rng, hncb, rowsPerFile, masterCarded = true,
        foreignShare = 0, epoint = false)
      val html = new StringBuilder
      html ++= "<html><body>\n<table><tr><td>廣告</td><td>無關表格</td></tr></table>\n"
      html ++= "<table border=\"1\">\n<tr><th>交易日期</th><th>入帳\n日期</th>" +
        "<th>卡號末四碼</th><th>摘要</th><th>金額</th></tr>\n"
      def tr(cells: String*) =
        html ++= cells.map(c => s"<td>$c</td>").mkString("<tr>", "", "</tr>\n")
      blocks(hncbTx).foreach { case (master, block) =>
        tr(md(1), md(2), "", master, "")
        masters += 1
        block.foreach(t =>
          tr(md(t.day), md(t.day + 1), "", t.merchant, t.shown.get.toString))
      }
      html ++= "</table>\n</body></html>\n"
      put(data.resolve(s"華南2024$mm.html"), html.toString, "Big5")
      tally(hncb, hncbTx)
      formats("html_big5") += 1

      // ---- sinopac: XLSX, every second month legacy BIFF .xls
      val sinoTx = txns(rng, sinopac, rowsPerFile, masterCarded = false,
        foreignShare = 0, epoint = false)
      val sheet: Seq[Seq[Any]] =
        Seq("交易日期", "入帳日期", "卡號末四碼", "交易摘要", "臺幣金額") +:
          sinoTx.map(t => Seq(LocalDate.of(2024, month, t.day),
            LocalDate.of(2024, month, t.day + 1), t.card, t.merchant,
            t.shown.get))
      if (month % 2 == 0) {
        Xls.writeFirstSheet(data.resolve(s"永豐2024${mm}帳單.xls").toString,
          "明細", sheet)
        formats("xls") += 1
      } else {
        Xlsx.writeSheets(data.resolve(s"永豐2024${mm}帳單.xlsx").toString,
          Seq("明細" -> sheet))
        formats("xlsx") += 1
      }
      tally(sinopac, sinoTx)
    }

    // one truncated OLE2 workbook: the extract layer must dead-letter it
    if (corruptFile) {
      val junkXls = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1)
        .map(_.toByte) ++ Array.fill(64)(0.toByte)
      Files.write(data.resolve("永豐銀行_corrupt_202412.xls"), junkXls)
    }

    Manifest(
      files = formats.values.sum + (if (corruptFile) 1 else 0),
      filesByFormat = formats.toMap, corruptFiles = if (corruptFile) 1 else 0,
      rowsByBank = rowsByBank.toMap, masterRows = masters, junkRows = junk,
      payments = payments, credits = credits, fees = fees,
      sumByCard = sumByCard.toMap)
  }

  /** `n` surviving rows for one bank file. Master-carded banks get their
    * rows in two card blocks (half each); payment rows there lose the
    * card (the extract layer clears it), so they sum under "".
    */
  private def txns(rng: SplittableRandom, bank: Bank, n: Int,
                   masterCarded: Boolean, foreignShare: Int,
                   epoint: Boolean): Seq[Txn] =
    (0 until n).map { i =>
      val (rawCard, outCard) =
        if (masterCarded) bank.cards(if (i < n / 2) 0 else 1)
        else bank.cards(rng.nextInt(bank.cards.size))
      val day = 1 + rng.nextInt(27)
      val roll = rng.nextInt(100)
      // the first row of each file is its payment, so every file has one
      val kind =
        if (i == 0 || roll < 1) PaymentRow
        else if (roll < 3) CreditRow
        else if (roll < 4) FeeRow
        else Purchase
      val cardOut = if (masterCarded && kind == PaymentRow) "" else outCard
      def txn(merchant: String, shown: Option[Long], pay: Long,
              foreign: Option[String] = None) =
        Txn(day, merchant, shown, pay, foreign, kind, rawCard, cardOut)
      kind match {
        case PaymentRow =>
          val amt = -(1000L + rng.nextInt(49000))
          txn(if (bank.id == "hncb_bank") "自動扣繳轉帳繳款" else "網路銀行繳款",
            Some(amt), amt)
        case CreditRow if epoint =>
          // no amount cell: refine backfills -M from the text
          val m = 10L + rng.nextInt(490)
          txn(String.format(java.util.Locale.ROOT, "使用e point %,d 點折現金 %d 元",
            Long.box(m * 10), Long.box(m)), None, -m)
        case CreditRow =>
          val amt = -(10L + rng.nextInt(290))
          txn("刷卡金回饋", Some(amt), amt)
        case FeeRow =>
          val amt = if (rng.nextBoolean()) 1800L else 20L + rng.nextInt(280)
          txn(if (amt == 1800L) "年費" else "國外交易手續費", Some(amt), amt)
        case Purchase if rng.nextInt(100) < foreignShare =>
          val amt = 100L + rng.nextInt(8900)
          txn("STEAMGAMES.COM  JPN TOKYO", Some(amt), amt,
            Some(s"${amt / 30}.5"))
        case Purchase =>
          val amt = 30L + rng.nextInt(5970)
          txn(shops(rng.nextInt(shops.size)), Some(amt), amt)
      }
    }

  /** Group master-carded rows into (master text, rows) blocks, in order. */
  private def blocks(rows: Seq[Txn]): Seq[(String, Seq[Txn])] = {
    val out = mutable.ArrayBuffer.empty[(String, mutable.ArrayBuffer[Txn])]
    rows.foreach { t =>
      if (out.isEmpty || out.last._1 != t.card)
        out += t.card -> mutable.ArrayBuffer.empty[Txn]
      out.last._2 += t
    }
    out.map { case (k, v) => k -> v.toSeq }.toSeq
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def put(path: java.nio.file.Path, content: String,
                  enc: String): Unit = {
    val cs = Charset.forName(enc)
    require(cs.newEncoder().canEncode(content),
      s"$path: content is not encodable as $enc")
    Files.write(path, content.getBytes(cs))
  }
}

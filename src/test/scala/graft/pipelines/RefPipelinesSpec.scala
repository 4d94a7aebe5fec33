package graft.pipelines

import java.nio.file.{Files, Path}
import graft.SparkSuiteBase
import graft.sources.FileQueue

/** Fixture-driven tests of the four reference pipelines (FIXTURES.md §B):
  * fully populated docs, omitted sub-trees, empty arrays, unknown
  * statistics keys, and the absent-OnFileDate case. */
class RefPipelinesSpec extends SparkSuiteBase {

  private def writeDoc(dir: Path, name: String, body: String): Unit =
    Files.writeString(dir.resolve(name), body)

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-fixtures")
    writeDoc(dir, "ACCT42_bank_scrape.json",
      """{
        |  "name": "Jane Doe",
        |  "complete_datetime": "2019-10-03 14:30:15",
        |  "institution": "First Bank",
        |  "contacts": [{"cname": "John", "phone": "555"},
        |               {"cname": "Mary", "phone": "556"}],
        |  "accounts": [
        |    {"account": "ACC12345678",
        |     "statistics": {"mean_closing_balance": 100.5,
        |                    "mean_closing_balance_30": 90.25,
        |                    "future_metric": 1.0},
        |     "transactions": [
        |       {"date": "2019-10-01", "amount": 5.0, "flags": ["a", "b"]},
        |       {"date": "2019-10-02", "amount": -3.0, "flags": []}]},
        |    {"account": "ACC99999999",
        |     "statistics": {"mean_closing_balance": 7.0},
        |     "transactions": [
        |       {"date": "2019-10-01", "amount": 1.0, "flags": ["x"]}]}
        |  ]
        |}""".stripMargin)
    writeDoc(dir, "NOACC_bank_scrape.json",
      """{"name": "No Accounts", "complete_datetime": "2019-01-01 00:00:00"}""")
    writeDoc(dir, "CR77_credit_report.json",
      """{
        |  "Date": "20191003", "Time": "143015", "MemberCode": "MBR9",
        |  "product": "basic",
        |  "TU_FFR_Report": [
        |    {"Hit": true, "OnFileDate": "2015-01-01",
        |     "Names": {"FirstName": "Jane", "LastName": "Doe"},
        |     "Trades": [{"trade_id": 1, "balance": 10.0},
        |                {"trade_id": 2, "balance": 20.0}],
        |     "Bankruptcies": [],
        |     "CreditSummary": {"score": 700, "utilization": 0.3},
        |     "Inquiries": [{"inq_id": 5}]}
        |  ]
        |}""".stripMargin)
    writeDoc(dir, "REC1_action.json",
      """{"action": "call", "priority": "high", "CreatedOnDate": "2019-10-03"}""")
    writeDoc(dir, "combined_doc.json",
      """{
        |  "SalesforceID": "SF001", "CreatedOnDate": "2019-10-02",
        |  "CustomerInformation": {"FirstName": "Ann", "LastName": "Lee", "age": 30},
        |  "BankScrapeData": {
        |    "name": "Ann L.",
        |    "institution": "Second Bank",
        |    "contacts": [{"cname": "Bob", "phone": "777"}],
        |    "accounts": [
        |      {"account": "ACC00000001",
        |       "statistics": {"mean_closing_balance": 55.0},
        |       "transactions": [{"date": "2019-09-30", "amount": 9.0,
        |                         "flags": ["f1"]}]}]},
        |  "CreditReportData": {
        |    "MemberCode": "MBR1",
        |    "TU_FFR_Report": [
        |      {"Hit": false,
        |       "Trades": [{"trade_id": 7, "balance": 70.0}],
        |       "CreditSummary": {"score": 650, "utilization": 0.5}}]},
        |  "Recommendations": [{"rec": "approve", "score": 0.9},
        |                      {"rec": "review", "score": 0.4}]
        |}""".stripMargin)
    writeDoc(dir, "combined_nocredit.json",
      """{
        |  "SalesforceID": "SF002", "CreatedOnDate": "2019-10-05",
        |  "CustomerInformation": {"FirstName": "Zed", "LastName": "Q", "age": 41}
        |}""".stripMargin)
    dir.toString
  }

  private lazy val tables = Router.route(spark, fixtureDir)

  test("router dispatches all four form families") {
    assert(tables.contains("reccomendation_action"))  // recpipe
    assert(tables.contains("bank_scrape_info"))       // bankpipe
    assert(tables.contains("base_credit"))            // creditpipe
    assert(tables.contains("master_table"))           // jsonpipe
  }

  test("recpipe attaches sf_id from filename (reference bug fixed)") {
    val rows = tables("reccomendation_action").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("SF_ID") == "REC1")
  }

  test("bankpipe masks account numbers with char-slice intent (P8)") {
    val acc = tables("bank_account").collect()
    val masks = acc.map(r => r.getAs[String]("account") -> r.getAs[String]("mask_id")).toMap
    assert(masks("ACC12345678") == "XXXX12345678")
    assert(masks("ACC99999999") == "XXXX99999999")
  }

  test("bankpipe extracts whitelisted statistics keys, ignores unknown (P7)") {
    val acc = tables("bank_account").collect()
      .map(r => r.getAs[String]("account") ->
        (r.getAs[Any]("mean_close"), r.getAs[Any]("mean_close_30"))).toMap
    assert(acc("ACC12345678") == ((100.5, 90.25)))
    assert(acc("ACC99999999") == ((7.0, null))) // absent key -> null, P12
    assert(!tables("bank_account").columns.contains("future_metric"))
  }

  test("bankpipe explodes transactions with parent keys (P6) and stringifies flags (P11)") {
    val txn = tables("transactions").collect()
    assert(txn.length == 4) // 3 from bankpipe + 1 from jsonpipe (union-append)
    val t = txn.find(_.getAs[Double]("amount") == 5.0).get
    assert(t.getAs[String]("account_id") == "ACC12345678")
    assert(t.getAs[String]("mask_id") == "XXXX12345678")
    assert(t.getAs[String]("sf_id") == "ACCT42")
    assert(t.getAs[String]("flags") == """["a","b"]""")
  }

  test("omitted accounts sub-tree contributes no child rows but keeps the doc (P17)") {
    val info = tables("bank_scrape_info").collect()
    assert(info.map(_.getAs[String]("SF_ID")).toSet == Set("ACCT42", "NOACC", "SF001"))
    val accSf = tables("bank_account").collect().map(_.getAs[String]("SF_ID")).toSet
    assert(accSf == Set("ACCT42", "SF001")) // NOACC contributes none
  }

  test("creditpipe reassembles Date+Time by slicing (P10)") {
    val base = tables("base_credit").collect()
    assert(base.length == 2) // CR77 (creditpipe) + SF001 (jsonpipe); SF002 filtered
    val cr77 = base.find(_.getAs[String]("MemberCode") == "MBR9").get
    assert(cr77.getAs[String]("Report_Date") == "2019-10-03 14:30:15")
    assert(cr77.getAs[Boolean]("TU_FFR_HIT"))
    assert(cr77.getAs[String]("FFR_filedate") == "2015-01-01")
  }

  test("creditpipe builds sub-tables; empty arrays yield no table (explode semantics)") {
    val trades = tables("trades").collect()
    assert(trades.length === 3) // 2 standalone + 1 from the combined doc
    assert(trades.map(_.getAs[Long]("trade_id")).toSet == Set(1L, 2L, 7L))
    // creditpipe rows carry Credit_Member_ID; jsonpipe rows carry SF_ID
    assert(trades.count(_.getAs[String]("Credit_Member_ID") == "MBR9") == 2)
    assert(trades.count(_.getAs[String]("SF_ID") == "SF001") == 1)
    assert(!tables.contains("bankruptcy")) // [] infers no struct -> skipped
    val cs = tables("credit_summary").collect()
    assert(cs.map(_.getAs[Long]("score")).toSet == Set(700L, 650L))
  }

  test("jsonpipe coalesces customer name and member id with fallbacks (P12)") {
    val master = tables("master_table").collect()
    val byId = master.map(r => r.getAs[String]("SalesforceID") -> r).toMap
    assert(byId("SF001").getAs[String]("name") == "Ann L.") // bank name wins
    assert(byId("SF002").getAs[String]("name") == "Zed Q")  // fallback chain
    assert(byId("SF001").getAs[String]("Credit_Member_ID") == "MBR1")
    assert(byId("SF002").getAs[String]("Credit_Member_ID") == "Not found")
  }

  test("jsonpipe drops nested payloads from master (P2) and splats customer_info (P15)") {
    val cols = tables("master_table").columns.toSet
    assert(!cols.contains("BankScrapeData") && !cols.contains("CreditReportData"))
    val ci = tables("customer_info").collect()
    assert(ci.map(_.getAs[Long]("age")).toSet == Set(30L, 41L))
  }

  test("jsonpipe explodes recommendations (P5)") {
    val recs = tables("reccomendations").collect()
    assert(recs.length == 2)
    assert(recs.map(_.getAs[String]("rec")).toSet == Set("approve", "review"))
  }

  test("creditpipe tolerates absent OnFileDate with null fallback (P12, P:175-178)") {
    val dir = Files.createTempDirectory("graft-nofiledate")
    writeDoc(dir, "NOFD_credit_report.json",
      """{"Date": "20200101", "Time": "010203", "MemberCode": "M1",
        |"TU_FFR_Report": [{"Hit": false,
        |  "Trades": [{"trade_id": 9, "balance": 1.0}]}]}""".stripMargin)
    val out = Router.route(spark, dir.toString)
    val base = out("base_credit").collect()
    assert(base.length == 1)
    assert(base.head.getAs[String]("FFR_filedate") == null) // np.nan analogue
    assert(!base.head.getAs[Boolean]("TU_FFR_HIT"))
    assert(out("trades").count() == 1)
  }

  test("corrupt JSON doc is skipped per-doc, not null-filled (P17)") {
    val dir = Files.createTempDirectory("graft-corrupt")
    writeDoc(dir, "GOOD1_action.json",
      """{"action": "call", "priority": "low", "CreatedOnDate": "2020-02-02"}""")
    writeDoc(dir, "BAD1_action.json",
      """{"action": "call", "priority": }""") // malformed
    writeDoc(dir, "ok_doc.json", """{"SalesforceID": "SFOK"}""")
    writeDoc(dir, "broken_doc.json", """not json at all {{{""")
    val out = Router.route(spark, dir.toString)
    // exactly the valid action doc's row; the corrupt one contributes
    // nothing (no null-filled row)
    val recs = out("reccomendation_action").collect()
    assert(recs.length == 1)
    assert(recs.head.getAs[String]("SF_ID") == "GOOD1")
    val master = out("master_table").collect()
    assert(master.length == 1)
    assert(master.head.getAs[String]("SalesforceID") == "SFOK")
    // count()-only path: column pruning once left only the internal
    // corrupt-record column referenced, which raw-JSON queries reject —
    // DROPMALFORMED has no such column to prune down to
    assert(out("master_table").count() == 1)
    assert(out("reccomendation_action").count() == 1)
  }

  test("all-corrupt form family is skipped wholesale (P17)") {
    val dir = Files.createTempDirectory("graft-allcorrupt")
    writeDoc(dir, "X_bank_scrape.json", """{"name": oops""")
    writeDoc(dir, "ok_doc.json", """{"SalesforceID": "SF9"}""")
    val out = Router.route(spark, dir.toString)
    assert(!out.contains("bank_scrape_info"))
    assert(out("master_table").count() == 1)
  }

  test("routeManaged releases every persisted source on release()") {
    val dir = Files.createTempDirectory("graft-managed")
    writeDoc(dir, "M1_action.json", """{"action": "x"}""")
    writeDoc(dir, "m_doc.json", """{"SalesforceID": "SFM"}""")
    spark.sharedState.cacheManager.clearCache()
    val routed = Router.routeManaged(spark, dir.toString)
    routed.tables.values.foreach(_.count())
    assert(!spark.sharedState.cacheManager.isEmpty, "sources should be cached")
    routed.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must unpersist every parsed source")
  }

  test("accounts whose transactions are all empty: bank_account lands, no transactions table") {
    // `[]` everywhere infers array<string>: nothing to star-expand, so the
    // child table is skipped instead of failing the whole route
    val dir = Files.createTempDirectory("graft-notxn")
    writeDoc(dir, "E1_bank_scrape.json",
      """{"name": "Empty One", "complete_datetime": "2020-01-01 00:00:00",
        |"accounts": [{"account": "ACC11112222", "transactions": []},
        |             {"account": "ACC33334444", "transactions": []}]}""".stripMargin)
    writeDoc(dir, "E2_bank_scrape.json",
      """{"name": "Empty Two", "complete_datetime": "2020-01-02 00:00:00",
        |"accounts": [{"account": "ACC55556666", "transactions": []}]}""".stripMargin)
    val routed = Router.routeManaged(spark, dir.toString)
    try {
      assert(!routed.tables.contains("transactions"))
      val out = Files.createTempDirectory("graft-notxn-out").toString
      val errs = graft.sources.Sinks.fanOut(routed.tables,
        (t, df) => graft.sources.Sinks.parquetAppend(df, s"$out/$t"))
      assert(errs.isEmpty, s"sink failures: $errs")
      val acc = spark.read.parquet(s"$out/bank_account")
      assert(acc.select("mask_id").collect().map(_.getString(0)).toSet ==
        Set("XXXX11112222", "XXXX33334444", "XXXX55556666"))
    } finally routed.release()
  }

  test("a failing form family unpersists the other families' sources before rethrowing") {
    val dir = Files.createTempDirectory("graft-failing-family")
    writeDoc(dir, "F1_bank_scrape.json",
      """{"name": "F", "accounts": [{"account": "ACC12121212"}]}""")
    writeDoc(dir, "F1_action.json", """{"action": "x"}""")
    // two keys equal up to case: the combined family's read fails
    // (duplicate column) while the bank and action families persist
    writeDoc(dir, "dup_doc.json", """{"SalesforceID": "A", "salesforceid": "B"}""")
    spark.sharedState.cacheManager.clearCache()
    intercept[org.apache.spark.sql.AnalysisException] {
      Router.routeManaged(spark, dir.toString)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed route must not leak the sources it already persisted")
  }

  test("every job a family read or a sink launches carries the caller's job group") {
    val dir = Files.createTempDirectory("graft-jobgroup")
    writeDoc(dir, "G1_bank_scrape.json",
      """{"name": "G", "accounts": [{"account": "ACC12345678",
        |"transactions": [{"amount": 1.0}]}]}""".stripMargin)
    writeDoc(dir, "G1_credit_report.json",
      """{"MemberCode": "M", "TU_FFR_Report": [{"Trades": [{"trade_id": 1}]}]}""")
    writeDoc(dir, "G1_action.json", """{"action": "x"}""")
    writeDoc(dir, "g_doc.json", """{"SalesforceID": "SFG"}""")
    val out = Files.createTempDirectory("graft-jobgroup-out").toString
    val sc = spark.sparkContext
    sc.setJobGroup("route-spec", "route + fanOut", interruptOnCancel = false)
    val (routed, tags) = try jobTagsDuring {
      val r = Router.routeManaged(spark, dir.toString)
      val errs = graft.sources.Sinks.fanOut(r.tables,
        (t, df) => graft.sources.Sinks.parquetAppend(df, s"$out/$t"))
      assert(errs.isEmpty, s"sink failures: $errs")
      // the pool threads described their jobs on clones of the caller's
      // properties: the caller's own description is untouched
      assert(sc.getLocalProperty("spark.job.description") == "route + fanOut")
      r
    } finally sc.clearJobGroup()
    routed.release()
    val (groups, descriptions) = tags.unzip
    // four schema inferences plus one append per table
    assert(groups.size == 4 + routed.tables.size, descriptions)
    assert(groups.forall(_ == "route-spec"),
      s"jobs lost the caller's job group: $groups")
    // every job names its unit after the caller's description, and
    // every table's append is named
    assert(descriptions.forall(_.startsWith("route + fanOut: graft ")), descriptions)
    for (t <- routed.tables.keys)
      assert(descriptions.contains(s"route + fanOut: graft append $t"),
        s"no job described as the append of $t: $descriptions")
    for (p <- Seq("recpipe", "bankpipe", "creditpipe", "jsonpipe"))
      assert(descriptions.contains(s"route + fanOut: graft route $p"), descriptions)
  }

  test("small batch: every routed table is one partition, and fanOut writes one file per table") {
    // the bank and combined families each hold two files, which Spark
    // alone would read as two partitions apiece
    val multi = tables.collect { case (t, df) if df.rdd.getNumPartitions != 1 =>
      t -> df.rdd.getNumPartitions }
    assert(multi.isEmpty, s"tables of more than one partition: $multi")
    val out = Files.createTempDirectory("graft-onefile-out")
    val errs = graft.sources.Sinks.fanOut(tables,
      (t, df) => graft.sources.Sinks.parquetAppend(df, s"$out/$t"))
    assert(errs.isEmpty, s"sink failures: $errs")
    for (t <- tables.keys) {
      val files = new java.io.File(s"$out/$t").listFiles.count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$t: $files parquet files")
    }
  }

  test("family source: ceil(bytes / maxPartitionBytes) partitions, never more than Spark's split") {
    // one family only (recpipe): its one table has the source's partitions
    val dir = Files.createTempDirectory("graft-sized")
    for (i <- 1 to 8) writeDoc(dir, f"S$i%02d_action.json",
      s"""{"action": "a$i", "priority": "p${i % 3}", "pad": "${"x" * (100 * i)}"}""")
    val bytes = dir.toFile.listFiles.map(_.length).sum
    def routed(): (Int, Seq[String]) = {
      val r = Router.routeManaged(spark, dir.toString)
      try {
        val t = r.tables("reccomendation_action")
        (t.rdd.getNumPartitions, t.collect().map(_.mkString("|")).sorted.toSeq)
      } finally r.release()
    }
    val (defaultParts, want) = routed()
    assert(defaultParts == 1 && want.size == 8)
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getAll.get(key)
    try {
      for (target <- Seq(bytes / 3 + 1, 1L)) {
        spark.conf.set(key, target)
        val sparkSplit = spark.read.option("multiLine", "true").json(dir.toString)
          .rdd.getNumPartitions
        assert(sparkSplit == 8) // one unsplittable document per partition
        val (parts, rows) = routed()
        assert(parts == math.min((bytes + target - 1) / target, sparkSplit.toLong),
          s"target $target: $parts partitions")
        assert(rows == want)
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("mixed bank+combined batch: unioned bank_account/transactions keep column order and rows") {
    // bankpipe's and jsonpipe's outputs union in family order, whichever
    // family's read finishes first
    def rows(t: String) = tables(t).collect().map(_.mkString("|")).sorted.toSeq
    assert(tables("bank_account").columns.toSeq == Seq(
      "account", "mean_close", "mean_close_30", "mask_id", "SF_ID", "Report_date"))
    assert(tables("transactions").columns.toSeq == Seq(
      "amount", "date", "flags", "account_id", "mask_id", "sf_id", "Report_Date"))
    assert(rows("bank_account") == Seq(
      "ACC00000001|55.0|null|XXXX00000001|SF001|2019-10-02",
      "ACC12345678|100.5|90.25|XXXX12345678|ACCT42|2019-10-03 14:30:15",
      "ACC99999999|7.0|null|XXXX99999999|ACCT42|2019-10-03 14:30:15"))
    assert(rows("transactions") == Seq(
      """-3.0|2019-10-02|[]|ACC12345678|XXXX12345678|ACCT42|2019-10-03 14:30:15""",
      """1.0|2019-10-01|["x"]|ACC99999999|XXXX99999999|ACCT42|2019-10-03 14:30:15""",
      """5.0|2019-10-01|["a","b"]|ACC12345678|XXXX12345678|ACCT42|2019-10-03 14:30:15""",
      """9.0|2019-09-30|["f1"]|ACC00000001|XXXX00000001|SF001|2019-10-02"""))
  }

  test("Router.read: the schema and rows of a multiLine read, case by case") {
    def dirOf(files: (String, Array[Byte])*): String = {
      val dir = Files.createTempDirectory("graft-read-eq")
      for ((name, bytes) <- files) Files.write(dir.resolve(name), bytes)
      dir.toString
    }
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val good = "good.json" -> utf8("""{"id": 1, "tags": ["a"], "nested": {"x": 1.5}}""")
    val cases = Seq(
      "fixture directory" -> fixtureDir,
      "truncated doc" -> dirOf(good, "cut.json" -> utf8("""{"id": 2, "tags": ["b", """)),
      "all-corrupt family" -> dirOf("x.json" -> utf8("""{"name": oops"""),
        "y.json" -> utf8("not json {{{")),
      "accounts whose arrays are all []" -> dirOf(
        "e1.json" -> utf8("""{"accounts": [{"account": "A1", "transactions": []}]}"""),
        "e2.json" -> utf8("""{"accounts": [{"account": "A2", "transactions": []}]}""")),
      "top-level JSON array" -> dirOf(good,
        "arr.json" -> utf8("""[{"id": 3, "extra": true}, {"id": 4}]""")),
      "empty file" -> dirOf(good, "empty.json" -> Array.emptyByteArray),
      "whitespace-only file" -> dirOf(good, "blank.json" -> utf8(" \n\t\n ")),
      "UTF-8 document with a byte-order mark" -> dirOf(good,
        "bom.json" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
          utf8("""{"id": 5, "bom_only": "yes"}"""))))
    // the reader the engine used before: multiLine inference and parse
    // in one read
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, dir) <- cases) {
      val want = spark.read.option("multiLine", "true").option("mode", "DROPMALFORMED")
        .json(dir).withColumn("source_file", org.apache.spark.sql.functions.input_file_name())
      val got = Router.read(spark, Seq(dir))
      assert(got.schema == want.schema, name)
      assert(rows(got) == rows(want), name)
    }
  }

  test("route infers each family's schema in one job, reading no file as a binary stream") {
    // multiLine inference reads every file through a BinaryFileRDD, which
    // Spark names "JsonFile: <paths>"
    val rddNames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        s.stageInfo.rddInfos.foreach(r => rddNames.add(r.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val (routed, tags) = try jobTagsDuring(Router.routeManaged(spark, fixtureDir))
      finally spark.sparkContext.removeSparkListener(listener)
    routed.release()
    // the route itself runs only the inferences; the parse waits for use
    assert(tags.map(_._2).sorted == Seq("bankpipe", "creditpipe", "jsonpipe", "recpipe")
      .map(p => s"graft route $p"), tags)
    val binary = rddNames.toArray.collect { case n: String if n.startsWith("JsonFile: ") => n }
    assert(binary.isEmpty, s"stages read files as binary streams: ${binary.toSeq}")
  }

  test("file queue consume-then-archive moves files only on commit (S6)") {
    val in = Files.createTempDirectory("graft-queue")
    val archive = in.resolve("archive")
    writeDoc(in, "one_action.json", """{"a": 1}""")
    writeDoc(in, "two_action.json", """{"a": 2}""")
    writeDoc(in, "bad_action.json", """{"a": [broken""")
    val (df, commit) = FileQueue.consumeBatch(spark, in.toString, archive.toString)
    assert(df.count() == 2) // count()-only on a batch containing a corrupt doc
    assert(Files.list(in).filter(_.toString.endsWith(".json")).count() == 3)
    commit()
    assert(Files.list(in).filter(_.toString.endsWith(".json")).count() == 0)
    assert(Files.list(archive).count() == 3) // corrupt file archived too
  }
}

package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native re-expression of the reference's four ETL pipelines
  * (`/root/reference/Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py`,
  * abbreviated `P`): recpipe `P:19-30`, bankpipe `P:33-147`, creditpipe
  * `P:154-366`, jsonpipe `P:372-763`, and the filename router
  * `P:795-805`. A user of the reference points [[Router.route]] at a
  * directory of JSON documents and gets the same ~22 flat tables.
  *
  * Design (SURVEY.md §1.3, §3): schema-at-runtime like the reference —
  * Spark's JSON inference runs over each family's files read as whole
  * text in one file scan, and the multiLine parse uses that schema (a
  * `multiLine` inference would open every file as its own Hadoop
  * stream, at ~20 ms a file; see [[Router.infer]]). Every sub-tree
  * access goes through [[Tolerant]] so an absent field/table yields
  * null columns or an absent output table instead of an exception.
  * That is the declarative form of the reference's ~40 bare
  * `try/except` sites (P17) and the README's "accounts for omitted
  * tables" (`P:12`).
  *
  * Scale: each pipeline is a handful of independent narrow plans
  * (scan -> project/explode -> sink) off ONE parsed source — no
  * shuffles at all. The reference processes one document per Python
  * loop iteration (`P:774`); here a million documents are one
  * distributed read per form family. [[Router.route]] persists each
  * family's parsed source itself (the pandas `data_dict` reuse, done
  * distributed) and reads the families concurrently; release the
  * sources with [[Router.routeManaged]]. Each source is sized to its
  * bytes, ceil(bytes / `spark.sql.files.maxPartitionBytes`) partitions
  * and never more than Spark's own split, so a small batch writes one
  * file per table and a large one reads about `maxPartitionBytes` of
  * JSON per task.
  *
  * Reference bugs intentionally NOT replicated (SURVEY.md §2a):
  * P8 vectorized row-slice mask (`P:94`), the `reg_items` path bug
  * (`P:640`), recpipe's missing sf_id (`P:19-30`) — we implement intent.
  */
object Tolerant {
  /** Does `path` (dot-separated) resolve inside this schema? */
  def has(schema: StructType, path: String): Boolean = {
    def step(dt: DataType, parts: List[String]): Boolean = (dt, parts) match {
      case (_, Nil) => true
      case (st: StructType, p :: rest) =>
        st.fields.find(_.name == p).exists(f => step(f.dataType, rest))
      case (ArrayType(e, _), parts) => step(e, parts) // descend through arrays
      case _ => false
    }
    step(schema, path.split('.').toList)
  }

  def has(df: DataFrame, path: String): Boolean = has(df.schema, path)

  /** Resolve the DataType at a dot path, descending through arrays. */
  def typeAt(schema: DataType, path: String): Option[DataType] = {
    def step(dt: DataType, parts: List[String]): Option[DataType] = (dt, parts) match {
      case (_, Nil) => Some(dt)
      case (st: StructType, p :: rest) =>
        st.fields.find(_.name == p).flatMap(f => step(f.dataType, rest))
      case (ArrayType(e, _), parts) => step(e, parts)
      case _ => None
    }
    step(schema, path.split('.').toList)
  }

  /** A child table can only be built from an array OF STRUCTS — an
    * empty JSON array infers as array<string> and has no columns to
    * splat; the reference's pandas equivalent yields an empty frame it
    * then skips (P17). */
  def structArrayAt(df: DataFrame, path: String): Option[StructType] =
    typeAt(df.schema, path) match {
      case Some(ArrayType(st: StructType, _)) => Some(st)
      case _ => None
    }

  /** Star-expansion requires the node to actually BE a struct — a
    * batch where the field is always null infers StringType, and
    * `col(path).*` on a string throws AnalysisException. Presence alone
    * is not tolerance (the reference's try/except would skip it). */
  def structAt(df: DataFrame, path: String): Option[StructType] =
    typeAt(df.schema, path) match {
      case Some(st: StructType) => Some(st)
      case _ => None
    }

  /** `getItem(0)` is only valid on an ARRAY node — an object-valued
    * field infers as a struct, where ordinal access throws. The
    * reference's `[0]` on a dict raises KeyError -> table skipped. */
  def isStructArray(df: DataFrame, path: String): Boolean =
    structArrayAt(df, path).isDefined

  /** `col(path)` when present, typed null otherwise — the engine's
    * spelling of the reference's per-field try/except (P17). */
  def colOrNull(df: DataFrame, path: String, dt: DataType = StringType): Column =
    if (has(df, path)) col(path) else lit(null).cast(dt)

}

object Router {
  import Tolerant._

  /** Parse JSON documents with per-document tolerance: DROPMALFORMED
    * discards an unparseable file at the source. This is the
    * reference's bare try/except around every read (`P:27-30` and ~40
    * sibling sites) — skip exactly the bad document. The default
    * PERMISSIVE mode would instead emit a null-filled row into every
    * downstream table (a corrupt doc would fabricate a `master_table`
    * row), and the filter-on-corrupt-column alternative leaves a trap:
    * a count()-style query prunes every data column, and Spark refuses
    * raw-JSON queries that reference only the corrupt column.
    *
    * The schema comes from [[infer]] (one job); the parse is Spark's
    * multiLine file scan with that schema, one document per file, and
    * runs when the frame is first used. The one JSON document reader of
    * the engine: [[graft.sources.FileQueue]] reads through it too. */
  private[graft] def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(infer(spark, paths))
      .option("multiLine", "true")
      .option("mode", "DROPMALFORMED")
      .json(paths: _*)
      .withColumn("source_file", input_file_name())

  /** The schema [[read]] parses `paths` with: Spark's JSON inference,
    * DROPMALFORMED, over each file read as one whole-text string, the
    * scan coalesced to ceil(bytes / `spark.sql.files.maxPartitionBytes`)
    * tasks with a floor of one (the bytes are the file lengths Spark's
    * own listing of `paths` found; Spark's split stays the ceiling). One
    * job over an ordinary file scan; the fields, types and order are
    * those `multiLine` inference gives.
    *
    * Why whole text, not `multiLine` inference: that path reads every
    * file through a `BinaryFileRDD` of `PortableDataStream`s, and each
    * stream carries and deserializes its own copy of the Hadoop
    * `Configuration`. Measured on a 4-vCPU host (`local[2]`, steady
    * state, median of 7), that costs about 20 ms per file whatever its
    * size: 0.15 s for 4 files, 0.70 s for 31 files of 112 KB in all,
    * against 0.11–0.17 s for the same families read as whole text. A
    * file scan ships one broadcast configuration per task.
    *
    * Documents are decoded as UTF-8, the JSON standard's encoding (a
    * leading byte-order mark is skipped by the JSON parser, as
    * `multiLine` skips it). Other encodings are out of scope: `multiLine`
    * guesses each file's encoding (UTF-16, UTF-32), the text reader does
    * not, so such a document infers as malformed and adds no fields. */
  private[graft] def infer(spark: SparkSession, paths: Seq[String]): StructType = {
    import spark.implicits._
    val text = spark.read.option("wholetext", "true").text(paths: _*)
    val docs = text
      .coalesce(partitionsFor(spark, text.queryExecution.analyzed.stats.sizeInBytes.toLong))
      .as[String]
    spark.read.option("mode", "DROPMALFORMED").json(docs).schema
  }

  /** ceil(bytes / `spark.sql.files.maxPartitionBytes`), at least one. */
  private def partitionsFor(spark: SparkSession, bytes: Long): Int = {
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    ((bytes + maxBytes - 1) / maxBytes).max(1L).min(Int.MaxValue.toLong).toInt
  }

  /** Read a directory of JSON documents, one row per file (multiLine —
    * the reference's `typ='series'` one-doc-per-file model, S1 `P:20`).
    * `source_file` carries provenance (S2: the blob listing collapses
    * into the distributed read; Spark lists+reads object stores
    * directly, S3 staging is unnecessary). Corrupt documents are
    * skipped per-doc, not null-filled. The schema is inferred from the
    * files read as whole text, not by `multiLine` inference, which
    * costs ~20 ms per file ([[infer]]). */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    read(spark, Seq(dir))

  /** A route() result plus a release handle: the ~22 output tables all
    * derive from a handful of persisted parsed sources (the pandas
    * `data_dict` reuse, done distributed); `release()` unpersists them
    * once the caller has consumed the tables. Short-lived programs
    * (Demo) can skip it — session shutdown frees the cache — but a
    * long-lived session routing many directories must call it or leak
    * cache. */
  final case class Routed(tables: Map[String, DataFrame], release: () => Unit)

  /** [[route]] with an unpersist handle for long-lived sessions. */
  def routeManaged(spark: SparkSession, dir: String): Routed = {
    val (tables, sources) = routeImpl(spark, dir)
    Routed(tables, () => sources.foreach(_.unpersist()))
  }

  /** Filename-pattern dispatch (S4, `P:795-805`): `_bank_scrape` ->
    * bankpipe, `_credit_report` -> creditpipe, `_action` -> recpipe,
    * else jsonpipe. The listing is driver-side metadata only (as the
    * reference's `os.scandir`, but no download — S3 staging collapses
    * into the distributed read); each form family is read separately so
    * it infers its OWN schema, exactly like the reference's per-file
    * `pd.read_json`. */
  def route(spark: SparkSession, dir: String): Map[String, DataFrame] =
    routeImpl(spark, dir)._1

  /** The routed tables plus the persisted parsed sources they derive
    * from. Each non-empty form family's read -> infer -> persist ->
    * pipeline build is one independent unit, and the (at most four)
    * units run concurrently ([[graft.internal.DriverPool]], one thread
    * per family, jobs described as `graft route <pipeline>`): each unit
    * is one schema-inference job plus driver-side plan building, so run
    * serially the executors idle through most of the route. If any unit
    * fails, the sources the others persisted are unpersisted before the
    * failure is rethrown — a failed route leaks no cache.
    *
    * Size-aware source partitioning: each family's source is coalesced,
    * before it is persisted, to ceil(bytes / maxPartitionBytes)
    * partitions with a floor of one. The bytes are the lengths of the
    * family's files from the directory listing (no second listing);
    * the divisor is the session's `spark.sql.files.maxPartitionBytes`.
    * `coalesce` never raises the count, so Spark's own split count is
    * the ceiling. Spark's split pads every file with `openCostInBytes`
    * (4 MB) and spreads even a few kilobytes `defaultParallelism` ways;
    * a small batch therefore pays a task and a cached block per file,
    * and every table built from it a task and an output file per
    * partition. Sized, a small family is one partition, and each table
    * — the unioned bank_account/transactions too — is one task and one
    * file. At scale every partition still holds about
    * `maxPartitionBytes` of JSON, the size Spark itself aims for. */
  private def routeImpl(spark: SparkSession, dir: String)
      : (Map[String, DataFrame], Seq[DataFrame]) = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    val fs = FileSystem.get(java.net.URI.create(dir),
      spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".json")).toSeq
    // persist: each pipeline derives many tables from one parsed source
    // (and Demo counts + writes each) — without caching, every action
    // re-lists, re-infers, and re-parses the JSON (the pandas
    // `data_dict` reuse of SURVEY §4, done distributed).
    def build(family: Seq[FileStatus], pipe: DataFrame => Map[String, DataFrame])
        : Option[(DataFrame, Map[String, DataFrame])] = {
      val df = read(spark, family.map(_.getPath.toString))
      // all-corrupt batch: nothing parseable survives -> no data columns
      // beyond provenance -> the whole form family is skipped, exactly
      // like the reference when every file of a kind throws (P17)
      if (df.columns.forall(_ == "source_file")) None
      else {
        val p = df.coalesce(partitionsFor(spark, family.map(_.getLen).sum)).persist()
        try Some(p -> pipe(p))
        catch { case scala.util.control.NonFatal(e) => p.unpersist(); throw e }
      }
    }
    // substring match, not suffix: the reference routes on
    // re.search('_bank_scrape', name) (`P:798`), so `SF1_bank_scrape_v2
    // .json` still goes to bankpipe. Precedence bank > credit > action
    // mirrors the reference's if/elif chain.
    def marked(marker: String)(f: FileStatus) = f.getPath.getName.contains(marker)
    val (bank, r1) = files.partition(marked("_bank_scrape"))
    val (credit, r2) = r1.partition(marked("_credit_report"))
    val (action, rest) = r2.partition(marked("_action"))
    val families = Seq[(String, Seq[FileStatus], DataFrame => Map[String, DataFrame])](
      ("recpipe", action, RefPipelines.recpipe), ("bankpipe", bank, RefPipelines.bankpipe),
      ("creditpipe", credit, RefPipelines.creditpipe), ("jsonpipe", rest, RefPipelines.jsonpipe))
      .filter(_._2.nonEmpty)
    val outcomes = graft.internal.DriverPool.runAll(spark, families.size,
      families.map { case (name, fam, pipe) => s"route $name" -> (() => build(fam, pipe)) })
    val built = outcomes.flatMap(_.toOption).flatten
    outcomes.collectFirst { case scala.util.Failure(e) =>
      built.foreach(_._1.unpersist())
      throw e
    }
    // Pipelines share table names (bankpipe and jsonpipe both emit
    // bank_account, transactions, …) — the reference APPENDS both to the
    // same SQL table (`P:133-147` vs `P:667-763`), so same-named outputs
    // union in family order; differing column sets null-fill, like SQL
    // append of a subset-schema frame.
    val tables = built.flatMap(_._2).groupMapReduce(_._1)(_._2)(
      (a, b) => a.unionByName(b, allowMissingColumns = true))
    (tables, built.map(_._1))
  }
}

object RefPipelines {
  import Tolerant._

  /** Filename minus the form marker onward (P9 intent:
    * `str(json_file)[:-17]` at `P:35`, `[:-19]` at `P:156` strip
    * "_bank_scrape.json"/"_credit_report.json"); expressed as a marker
    * strip so substring-routed names (e.g. `_bank_scrape_v2.json`) get
    * a sane id instead of the reference's garbled fixed-length slice. */
  private def sfIdFromFile(marker: String): Column =
    regexp_replace(regexp_extract(col("source_file"), "([^/]+)$", 1),
      marker + ".*$", "")

  /** P8 mask intent: `"XXXX" + account[3:]` (`P:115`), char slice. */
  private def maskId(account: Column): Column =
    concat(lit("XXXX"), substring(account, 4, Int.MaxValue))

  /** P10: `Date`=yyyyMMdd + `Time`=HHmmss reassembled by slicing
    * (`P:162`); normalized to `HH:mm:ss` (SURVEY.md P10 choice). */
  private def reassembleDate(d: Column, t: Column): Column =
    concat(substring(d, 1, 4), lit("-"), substring(d, 5, 2), lit("-"),
      substring(d, 7, 2), lit(" "),
      substring(t, 1, 2), lit(":"), substring(t, 3, 2), lit(":"),
      substring(t, 5, 2))

  /** recpipe (`P:19-30`): flat action form -> one table. The reference
    * never attaches sf_id (its own bug, SURVEY §2a); we attach it. */
  def recpipe(docs: DataFrame): Map[String, DataFrame] = {
    if (docs.columns.isEmpty) return Map.empty
    val out = docs.withColumn("SF_ID", sfIdFromFile("_action"))
    Map("reccomendation_action" -> out.drop("source_file"))
  }

  /** bankpipe (`P:33-147`): standalone bank-scrape form ->
    * bank_scrape_info, misc_contact, bank_account, transactions. */
  def bankpipe(docs: DataFrame): Map[String, DataFrame] = {
    if (docs.columns.isEmpty) return Map.empty
    val d = docs
      .withColumn("SF_ID", sfIdFromFile("_bank_scrape"))
      .withColumn("Report_date", colOrNull(docs, "complete_datetime"))

    // P1/P2: the doc row minus nested payloads is the info table
    // (`P:43-49`); Catalyst prunes the dropped columns at the scan.
    val info = d.drop("contacts", "accounts", "source_file")

    val contacts = structArrayAt(docs, "contacts").map { _ =>
      // reference stamps the holder's name on every contact row
      // (`P:59-60`), overwriting any contact-level 'name' field
      d.select(col("SF_ID"), col("Report_date"),
          colOrNull(docs, "name").as("__holder"), explode(col("contacts")).as("c"))
        .select(col("SF_ID"), col("Report_date"), col("__holder"), col("c.*"))
        .withColumn("name", col("__holder")).drop("__holder")
    }
    val accountTables = accountsOf(d, docs, col("SF_ID"), col("Report_date"))
    Map("bank_scrape_info" -> info) ++
      contacts.map("misc_contact" -> _) ++ accountTables
  }

  /** Shared accounts/transactions flattening (P5/P6/P7/P8,
    * `P:70-126` and `P:447-501`): explode accounts, pull the
    * whitelisted statistics keys, mask the account number, then explode
    * transactions stamping all parent keys — the reference's 20-line
    * accumulate loop is one explode chain, zero shuffles. */
  private def accountsOf(d: DataFrame, docs: DataFrame, sfId: Column,
      reportDate: Column, path: String = "accounts"): Map[String, DataFrame] = {
    structArrayAt(docs, path).map { accSchema =>
      val hasAcctNo = accSchema.fieldNames.contains("account")
      val acc = d
        .select(sfId.as("sf_id"), reportDate.as("Report_Date"),
          explode(col(path)).as("a"))
        .withColumn("account_id",
          if (hasAcctNo) col("a.account") else lit(null).cast(StringType))
        .withColumn("mask_id",
          if (hasAcctNo) maskId(col("a.account")) else lit(null).cast(StringType))
      // P7: whitelisted key extraction from the open-keyed statistics
      // map/struct; unknown future keys are simply never selected.
      def stat(key: String): Column = {
        val p = s"a.statistics.$key"
        accSchema.find(_.name == "statistics").map(_.dataType) match {
          case Some(MapType(_, _, _)) => element_at(col("a.statistics"), key)
          case Some(st: StructType) if st.fieldNames.contains(key) => col(p)
          case _ => lit(null).cast(DoubleType)
        }
      }
      // ALL account fields survive minus the consumed nested ones — the
      // reference only drops 'statistics' and 'transactions'
      // (`P:93-99`); a fixed column list would silently lose real
      // account attributes (balance, institution, …).
      val acctCols = accSchema.fieldNames
        .filterNot(Set("statistics", "transactions")).toSeq
        .map(c => col(s"a.$c").as(c))
      val bankAccount = acc.select(
        (acctCols ++ Seq(
          stat("mean_closing_balance").as("mean_close"),
          stat("mean_closing_balance_30").as("mean_close_30"),
          col("mask_id"),
          col("sf_id").as("SF_ID"), col("Report_Date").as("Report_date"))): _*)

      // array OF STRUCTS only: a batch whose accounts all carry `[]`
      // infers array<string>, which has no fields to star-expand
      val txns = if (structArrayAt(docs, s"$path.transactions").isDefined) {
        val t = acc
          .select(col("sf_id"), col("Report_Date"), col("account_id"),
            col("mask_id"), explode(col("a.transactions")).as("t"))
        val flat = t.select((t.select(col("t.*")).columns.map(c => col(s"t.$c")) ++
          Seq(col("account_id"), col("mask_id"), col("sf_id"), col("Report_Date"))): _*)
        // P11: stringify the flags array — to_json, not Python repr.
        val out = if (Tolerant.has(flat, "flags")) {
          flat.withColumn("flags", to_json(col("flags")))
        } else flat
        Map("transactions" -> out)
      } else Map.empty[String, DataFrame]
      Map("bank_account" -> bankAccount) ++ txns
    }.getOrElse(Map.empty[String, DataFrame])
  }

  /** The 13 credit sub-tables hanging off `TU_FFR_Report[0]`
    * (`P:187-306`, `P:528-645`): 11 explode-an-array tables, the scalar
    * CreditSummary struct (P15), and base fields. `reg_items` uses the
    * CORRECT path (the reference's always-fails bug at `P:640` is not
    * replicated). */
  // Table names exactly as the reference's to_sql targets (`P:311-364`,
  // `P:697-761`): bankruptcy (singular), credit_details, misc_statements.
  private val creditArrays = Seq(
    "Bankruptcies" -> "bankruptcy", "Trades" -> "trades",
    "CreditSummaryDetails" -> "credit_details",
    "ScoreProducts" -> "score_products", "Bankings" -> "bankings",
    "Employments" -> "employments", "Collections" -> "collections",
    "Inquiries" -> "inquiries", "Legals" -> "legals",
    "ConsumerStatements" -> "consumer_statements",
    "MiscellaneousStatements" -> "misc_statements",
    "RegisteredItems" -> "reg_items")

  /** `stamps` parameterizes the per-row keys: creditpipe stamps
    * (Credit_Member_ID, Report_Date) (`P:189-190` etc.), jsonpipe
    * stamps (SF_ID, Report_Date) (`P:530-531` etc.) — they are NOT the
    * same key in the reference. */
  private def creditTables(d: DataFrame, docs: DataFrame, root: String,
      stamps: Seq[(String, Column)]): Map[String, DataFrame] = {
    val ffr = if (root.isEmpty) "TU_FFR_Report" else s"$root.TU_FFR_Report"
    // getItem(0) needs an ARRAY of structs; an object-form report is
    // skipped wholesale (the reference's `[0]` on a dict KeyErrors and
    // every sub-table's try/except fires, P17).
    if (!isStructArray(docs, ffr)) return Map.empty
    val stampCols = stamps.map { case (n, c) => c.as(n) }
    val stampRefs = stamps.map { case (n, _) => col(n) }
    val sub = creditArrays.flatMap { case (field, table) =>
      structArrayAt(docs, s"$ffr.$field").map { _ =>
        table -> d
          .select((stampCols :+
            explode(col(ffr).getItem(0).getField(field)).as("x")): _*)
          .select((stampRefs :+ col("x.*")): _*)
      }
    }.toMap
    val summary = structAt(docs, s"$ffr.CreditSummary").map { _ =>
      "credit_summary" -> d
        .filter(col(ffr).getItem(0).getField("CreditSummary").isNotNull)
        .select((stampCols :+
          col(ffr).getItem(0).getField("CreditSummary").as("cs")): _*)
        .select((stampRefs :+ col("cs.*")): _*)
    }
    sub ++ summary
  }

  /** creditpipe (`P:154-366`): standalone credit-report form. */
  def creditpipe(docs: DataFrame): Map[String, DataFrame] = {
    if (docs.columns.isEmpty) return Map.empty
    val reportDate = if (has(docs, "Date") && has(docs, "Time"))
      reassembleDate(col("Date"), col("Time")) else lit(null).cast(StringType)
    val d = docs
      .withColumn("SF_ID", sfIdFromFile("_credit_report"))
      .withColumn("Report_Date", reportDate)
    // base_credit (`P:165-184`): doc scalars + SF_ID + Credit_Member_ID
    // (= MemberCode, `P:167`) + TU_FFR_HIT (reference column name,
    // `P:168`) + OnFileDate with null fallback (P12, `P:175-178`).
    // getItem(0) only when the report is really an array (type guard).
    val ffrOk = isStructArray(docs, "TU_FFR_Report")
    val base = d
      .withColumn("Credit_Member_ID", colOrNull(docs, "MemberCode"))
      .withColumn("TU_FFR_HIT",
        if (ffrOk && has(docs, "TU_FFR_Report.Hit"))
          col("TU_FFR_Report").getItem(0).getField("Hit")
        else lit(null).cast(BooleanType))
      .withColumn("FFR_filedate",
        if (ffrOk && has(docs, "TU_FFR_Report.OnFileDate"))
          col("TU_FFR_Report").getItem(0).getField("OnFileDate")
        else lit(null).cast(StringType))
      .drop("TU_FFR_Report", "source_file")
    Map("base_credit" -> base) ++
      creditTables(d, docs, "", Seq(
        "Credit_Member_ID" -> colOrNull(docs, "MemberCode"),
        "Report_Date" -> col("Report_Date")))
  }

  /** jsonpipe (`P:372-763`): the combined envelope form -> ~20 tables.
    * ONE parsed source, ~20 independent narrow plans (SURVEY §3 Entry 2:
    * "ONE read, then ~20 select/explode plans off the cached source").
    */
  def jsonpipe(docs: DataFrame): Map[String, DataFrame] = {
    if (docs.columns.isEmpty) return Map.empty
    // P12/P13 (`P:378-397`): 3-level customer-name fallback chain.
    // concat_ws never returns null (null,null -> "") — nullif restores
    // null so the next coalesce level actually fires (P12 chain).
    def nameOf(first: Column, last: Column): Column =
      nullif(concat_ws(" ", first, last), lit(""))
    // getItem(0) on the report is only legal when it really is an array
    val ffrIsArray = isStructArray(docs, "CreditReportData.TU_FFR_Report")
    val name = coalesce(
      (Seq(colOrNull(docs, "BankScrapeData.name")) ++
        (if (has(docs, "CustomerInformation.FirstName"))
          Seq(nameOf(col("CustomerInformation.FirstName"),
            col("CustomerInformation.LastName"))) else Nil) ++
        (if (ffrIsArray && has(docs, "CreditReportData.TU_FFR_Report.Names.FirstName"))
          Seq(nameOf(
            col("CreditReportData.TU_FFR_Report").getItem(0).getField("Names").getField("FirstName"),
            col("CreditReportData.TU_FFR_Report").getItem(0).getField("Names").getField("LastName")))
        else Nil) :+ lit("Not specified")): _*)
    // `P:399-402`: Credit_Member_ID with "Not found" fallback.
    val memberId = coalesce(colOrNull(docs, "CreditReportData.MemberCode"), lit("Not found"))
    val sfId = colOrNull(docs, "SalesforceID")
    val created = colOrNull(docs, "CreatedOnDate")

    val d = docs
      .withColumn("name", name)
      .withColumn("Credit_Member_ID", memberId)

    // master_table (`P:393-404`): envelope scalars, nested payloads
    // dropped (P2 — Catalyst prunes them from the scan).
    val master = d.drop("CustomerInformation", "BankScrapeData",
      "CreditReportData", "Recommendations", "source_file")

    // Struct-derived tables filter to docs actually carrying the
    // sub-tree: the schema is merged batch-wide, but the reference's
    // per-doc try/except means a doc without the payload contributes no
    // row to that table (P17).
    // Struct-derived tables require the node to BE a struct (type
    // guard, not just presence — an always-null batch infers string).
    val customerInfo = structAt(docs, "CustomerInformation").map { _ =>
      "customer_info" -> d.filter(col("CustomerInformation").isNotNull)
        .select(sfId.as("SalesforceID"),
          created.as("Report_date"), col("CustomerInformation.*"))
    }
    val miscContact = structArrayAt(docs, "BankScrapeData.contacts").map { _ =>
      // holder's name stamped on each contact row (`P:418`)
      "misc_contact" -> d
        .select(sfId.as("SF_ID"), created.as("Report_date"),
          colOrNull(docs, "BankScrapeData.name").as("__holder"),
          explode(col("BankScrapeData.contacts")).as("c"))
        .select(col("SF_ID"), col("Report_date"), col("__holder"), col("c.*"))
        .withColumn("name", col("__holder")).drop("__holder")
    }
    // bank_scrape_info (`P:431-437`): struct->row minus its arrays.
    val bankInfo = structAt(docs, "BankScrapeData").map { st =>
      val cols = st.fieldNames.filterNot(Set("accounts", "contacts")).toSeq
      "bank_scrape_info" -> d.filter(col("BankScrapeData").isNotNull).select(
        (cols.map(c => col(s"BankScrapeData.$c")) ++
          Seq(sfId.as("SF_ID"), created.as("Report_date"))): _*)
    }
    val accounts = accountsOf(d, docs, sfId, created, "BankScrapeData.accounts")

    // base_credit (`P:506-522`): reference columns SF_ID,
    // Credit_Member_ID, TU_FFR_HIT, Report_Date.
    val ffrOk = isStructArray(docs, "CreditReportData.TU_FFR_Report")
    val baseCredit = structAt(docs, "CreditReportData").map { st =>
      val scalarCols = st.fieldNames.filterNot(_ == "TU_FFR_Report").toSeq
      val hit = if (ffrOk && has(docs, "CreditReportData.TU_FFR_Report.Hit"))
        col("CreditReportData.TU_FFR_Report").getItem(0).getField("Hit")
      else lit(null).cast(BooleanType)
      val fileDate = if (ffrOk && has(docs, "CreditReportData.TU_FFR_Report.OnFileDate"))
        col("CreditReportData.TU_FFR_Report").getItem(0).getField("OnFileDate")
      else lit(null).cast(StringType)
      "base_credit" -> d.filter(col("CreditReportData").isNotNull).select(
        (scalarCols.map(c => col(s"CreditReportData.$c")) ++ Seq(
          hit.as("TU_FFR_HIT"), fileDate.as("FFR_filedate"),
          col("Credit_Member_ID"), sfId.as("SF_ID"), created.as("Report_Date"))): _*)
    }
    // jsonpipe stamps SF_ID (not member code) on every credit
    // sub-table (`P:530-531` and onward).
    val credit = creditTables(d, docs, "CreditReportData", Seq(
      "SF_ID" -> sfId, "Report_Date" -> created))

    val recs = structArrayAt(docs, "Recommendations").map { _ =>
      "reccomendations" -> d
        .select(sfId.as("SF_ID"), created.as("Report_date"),
          explode(col("Recommendations")).as("r"))
        .select(col("SF_ID"), col("Report_date"), col("r.*"))
    }
    Map("master_table" -> master) ++ customerInfo ++ miscContact ++ bankInfo ++
      accounts ++ baseCredit ++ credit ++ recs
  }
}

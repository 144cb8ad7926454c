package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.formats.FileType

class ProcessJobSpec extends SparkSpec {
  import spark.implicits._

  private def stage(dir: String): Unit = {
    Files.write(Paths.get(dir, "data_clinical_supp_sample_CTR.txt"),
      ("SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\n" +
        "GENIE-CTR-p1-s1\tGENIE-CTR-p1\t1200\tLUAD\t1\tCTR-A1\n").getBytes)
    Files.write(Paths.get(dir, "data_clinical_supp_patient_CTR.txt"),
      "PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\nGENIE-CTR-p1\t1\t1\t1\t1950\n".getBytes)
    Files.write(Paths.get(dir, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n").getBytes)
  }

  test("P29 md5-skip + validate + upsert flow, end to end twice") {
    val dir = tmpDir("process")
    stage(dir)

    // run 1: nothing prior → everything validates and lands
    val r1 = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    assert(r1.skipped.isEmpty)
    assert(r1.statuses.forall(_.status == "VALIDATED"))
    assert(r1.tables("clinical").count() == 1)
    assert(r1.tables("maf").count() == 1)

    // run 2 with unchanged files → P29 skips all reads
    val r2 = ProcessJob.run(spark, "CTR", dir, r1.statuses, r1.tables)
    assert(r2.skipped.toSet ==
      Set("data_clinical_supp_sample_CTR.txt", "data_clinical_supp_patient_CTR.txt",
        "data_mutations_extended_CTR.maf"))

    // run 3: modified MAF (new variant) re-validates and upserts
    Files.write(Paths.get(dir, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t500\t501\tG\tGENIE-CTR-p1-s1\tC\t30\n").getBytes)
    val r3 = ProcessJob.run(spark, "CTR", dir, r1.statuses, r1.tables)
    assert(!r3.skipped.contains("data_mutations_extended_CTR.maf"))
    assert(r3.tables("maf").count() == 2)
  }

  test("protocol-shaped annotator: wrapper column contract + failed-annotation error report") {
    // the annotation_suite_wrapper.sh / process_mutation.py contract:
    // every input MAF row comes back with the annotation columns
    // appended; rows the annotator cannot annotate come back with
    // Annotation_Status=FAILED and land in the center's
    // failed_annotations_error_report.txt (Center column added), with
    // report rows == the maf table's FAILED rows (the
    // check_annotation_error_reports QC, process_mutation.py:336-363)
    val dir = tmpDir("process-annot-proto")
    val header = "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n"
    Files.write(Paths.get(dir, "data_mutations_proto.maf"),
      (header +
        "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t500\t501\tG\tGENIE-CTR-p1-s2\tC\t25\n" +
        "3\t700\t701\tC\tGENIE-CTR-p1-s2\tA\t21\n" +
        "X\t900\t901\tTT\tGENIE-CTR-p1-s3\t-\t12\n" +
        "7\t950\t951\tAC\tGENIE-CTR-p1-s4\t-\t18\n").getBytes)
    val script = Paths.get(tmpDir("annot-proto-bin"), "toy_wrapper.sh")
    Files.write(script,
      """#!/bin/sh
        |# wrapper contract: annotatable rows get an HGVSg + SUCCESS;
        |# un-annotatable rows (deletion allele '-') come back with an
        |# EMPTY annotation and FAILED — never dropped
        |exec awk -F'\t' -v OFS='\t' '{
        |  if ($6 == "-") print $0, "", "FAILED"
        |  else print $0, $1 ":g." $2 $4 ">" $6, "SUCCESS"
        |}'
        |""".stripMargin.getBytes)

    val inCols = Seq("CHROMOSOME", "START_POSITION", "END_POSITION",
      "REFERENCE_ALLELE", "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2", "T_DEPTH")
    val annotator = new graft.operators.PipeAnnotator(
      Seq("/bin/sh", script.toString), inCols ++ Seq("HGVSG", "ANNOTATION_STATUS"))
    val reportDir = tmpDir("annot-report")

    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty,
      Some(annotator), Some(reportDir))
    val maf = r.tables("maf")

    // added-column schema: the input columns, in order, plus exactly the
    // annotation fields
    assert(maf.columns.toSeq == inCols ++ Seq("HGVSG", "ANNOTATION_STATUS"))
    // row preservation: failures are kept WITH status, not dropped
    assert(maf.count() == 5)
    val failed = maf.filter(col("ANNOTATION_STATUS") === "FAILED")
      .select("CHROMOSOME", "HGVSG").as[(String, String)].collect().toSet
    assert(failed == Set(("X", ""), ("7", "")))
    assert(maf.filter(col("ANNOTATION_STATUS") === "SUCCESS").count() == 3)

    // error report: one TSV, FAILED rows only, Center column appended,
    // row parity with the maf table's FAILED rows
    val reportFile = s"$reportDir/failed_annotations_error_report.txt"
    assert(Files.exists(Paths.get(reportFile)), "error report not written")
    val report = spark.read.option("header", "true").option("sep", "\t").csv(reportFile)
    assert(report.columns.toSeq == inCols ++ Seq("HGVSG", "ANNOTATION_STATUS", "Center"))
    assert(report.count() == maf.filter(col("ANNOTATION_STATUS") === "FAILED").count())
    assert(report.select("CHROMOSOME", "Center").as[(String, String)].collect().toSet ==
      Set(("X", "CTR"), ("7", "CTR")))
  }

  test("mutation path end-to-end through a real annotator subprocess") {
    // the annotation_suite_wrapper.sh contract: a subprocess receives
    // variant lines, echoes each back with annotation fields appended —
    // here a real /bin/sh+awk process per partition via PipeAnnotator,
    // not the in-JVM PassthroughAnnotator test double
    val dir = tmpDir("process-annot")
    val header = "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n"
    Files.write(Paths.get(dir, "data_mutations_x.maf"),
      (header + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t500\t501\tG\tGENIE-CTR-p1-s2\tC\t25\n" +
        "X\t900\t901\tTT\tGENIE-CTR-p1-s3\t-\t12\n").getBytes)
    val script = Paths.get(tmpDir("annot-bin"), "toy_genome_nexus.sh")
    Files.write(script,
      """#!/bin/sh
        |# toy Genome Nexus: append HGVSg-style annotation + status per line
        |exec awk -F'\t' -v OFS='\t' '{ print $0, $1 ":g." $2 $4 ">" $6, "SUCCESS" }'
        |""".stripMargin.getBytes)

    val inCols = Seq("CHROMOSOME", "START_POSITION", "END_POSITION",
      "REFERENCE_ALLELE", "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2", "T_DEPTH")
    val annotator = new graft.operators.PipeAnnotator(
      Seq("/bin/sh", script.toString), inCols ++ Seq("HGVSG", "ANNOTATION_STATUS"))

    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty, Some(annotator))
    val maf = r.tables("maf")
    // row-count preservation through the pipe + annotation columns added
    assert(maf.count() == 3)
    assert(maf.columns.contains("HGVSG") && maf.columns.contains("ANNOTATION_STATUS"))
    val got = maf.select("CHROMOSOME", "HGVSG", "ANNOTATION_STATUS")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("1", "1:g.100A>T", "SUCCESS"),
      ("2", "2:g.500G>C", "SUCCESS"),
      ("X", "X:g.900TT>-", "SUCCESS")))

    // a second run: a NEW maf file upserts annotated rows against the
    // annotated table (row 1 updates in place, row 7 appends)
    Files.write(Paths.get(dir, "data_mutations_y.maf"),
      (header + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "7\t777\t778\tC\tGENIE-CTR-p1-s4\tA\t40\n").getBytes)
    val r2 = ProcessJob.run(spark, "CTR", dir, r.statuses, r.tables, Some(annotator))
    assert(r2.tables("maf").count() == 4)
    assert(r2.tables("maf").filter($"HGVSG" === "7:g.777C>A").count() == 1)
  }

  test("multiple MAF files from one center all accumulate") {
    val dir = tmpDir("process-multi")
    val header = "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n"
    Files.write(Paths.get(dir, "data_mutations_a.maf"),
      (header + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n").getBytes)
    Files.write(Paths.get(dir, "data_mutations_b.maf"),
      (header + "2\t200\t201\tG\tGENIE-CTR-p1-s1\tC\t30\n").getBytes)
    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    assert(r.tables("maf").count() == 2) // both files' variants present
  }

  test("P30: triple clinical upload flagged as duplicate") {
    assert(ProcessJob.duplicatedFiles(Seq(
      "data_clinical_supp_sample_A.txt", "data_clinical_supp_patient_A.txt",
      "data_clinical_supp_sample_B.txt")).nonEmpty)
    assert(ProcessJob.duplicatedFiles(Seq("a.seg", "b.seg")).nonEmpty)
    assert(ProcessJob.duplicatedFiles(Seq(
      "data_clinical_supp_sample_A.txt", "data_clinical_supp_patient_A.txt", "a.seg")).isEmpty)
  }

  test("workflow + retraction file types process end to end with patient cascade") {
    val dir = tmpDir("process-retract")
    stage(dir)
    // second patient/sample so the cascade leaves something behind
    Files.write(Paths.get(dir, "data_clinical_supp_sample_CTR.txt"),
      ("SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\n" +
        "GENIE-CTR-p1-s1\tGENIE-CTR-p1\t1200\tLUAD\t1\tCTR-A1\n" +
        "GENIE-CTR-p2-s2\tGENIE-CTR-p2\t900\tLUAD\t1\tCTR-A1\n" +
        "GENIE-CTR-p3-s3\tGENIE-CTR-p3\t800\tLUAD\t1\tCTR-A1\n").getBytes)
    Files.write(Paths.get(dir, "data_clinical_supp_patient_CTR.txt"),
      ("PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\n" +
        "GENIE-CTR-p1\t1\t1\t1\t1950\nGENIE-CTR-p2\t2\t1\t1\t1960\n" +
        "GENIE-CTR-p3\t1\t1\t1\t1970\n").getBytes)
    Files.write(Paths.get(dir, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t200\t201\tG\tGENIE-CTR-p2-s2\tC\t30\n" +
        "3\t300\t301\tC\tGENIE-CTR-p3-s3\tG\t30\n").getBytes)
    Files.write(Paths.get(dir, "sampleRetraction.csv"), "GENIE-CTR-p3-s3\n".getBytes)
    Files.write(Paths.get(dir, "patientRetraction.csv"), "GENIE-CTR-p1\n".getBytes)
    Files.write(Paths.get(dir, "CTR_workflow.md"), "# workflow\n".getBytes)

    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    // workflow md recorded as validated passthrough
    assert(r.statuses.exists(s => s.name == "CTR_workflow.md" && s.status == "VALIDATED"))
    // retraction tables carry the reference columns
    assert(r.tables("sampleRetraction").columns.toSeq ==
      Seq("genieSampleId", "retractionDate", "center"))
    assert(r.tables("patientRetraction").columns.toSeq ==
      Seq("geniePatientId", "retractionDate", "center"))
    // p3's sample retracted directly, p1's via the patient cascade
    assert(r.tables("clinical").select("SAMPLE_ID").as[String].collect().toSet ==
      Set("GENIE-CTR-p2-s2"))
    assert(r.tables("maf").select("TUMOR_SAMPLE_BARCODE").as[String].collect().toSet ==
      Set("GENIE-CTR-p2-s2"))
  }

  test("invalid-reasons report: per-center files with reference formatting") {
    val dir = tmpDir("invalid-reasons")
    Files.write(Paths.get(dir, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "99\t100\t101\tQQ\tWRONG-1\tT\t30\n").getBytes)
    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    assert(r.errors.contains("data_mutations_extended_CTR.maf"))

    val out = tmpDir("invalid-reasons-out")
    val written = InvalidReasons.write(Map(
      "CTR"  -> r.errors.toSeq.map { case (n, e) => (n, e) },
      "GOLD" -> Nil), out)
    assert(written.map(f => Paths.get(f).getFileName.toString) ==
      Seq("CTR_validation_errors.txt", "GOLD_validation_errors.txt"))
    val ctr = new String(Files.readAllBytes(Paths.get(written.head)), "UTF-8")
    assert(ctr.startsWith("\tdata_mutations_extended_CTR.maf:\n\n"))
    assert(ctr.contains("CHROMOSOME"))
    val gold = new String(Files.readAllBytes(Paths.get(written(1))), "UTF-8")
    assert(gold == "No errors!")
  }

  test("file-type registry recognizes workflow and retraction patterns") {
    assert(FileType.of("sampleRetraction.csv") == Some(FileType.SampleRetraction))
    assert(FileType.of("patientRetraction.csv") == Some(FileType.PatientRetraction))
    assert(FileType.of("CTR_workflow.md", "CTR") == Some(FileType.Workflow))
    assert(FileType.of("OTHER_workflow.md", "CTR").isEmpty)
  }

  test("md5Of streams a multi-MB upload to the digest of its bytes") {
    // 5 MiB + 17 bytes: not a multiple of any read buffer size
    val bytes = new Array[Byte]((5 << 20) + 17)
    new scala.util.Random(42).nextBytes(bytes)
    val p = Paths.get(tmpDir("md5"), "data_mutations_extended_CTR.maf")
    Files.write(p, bytes)
    val expected = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(ProcessJob.md5Of(p.toString) == expected)
    val empty = Files.write(p.resolveSibling("empty.txt"), Array.emptyByteArray)
    assert(ProcessJob.md5Of(empty.toString) == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("invalid upload does not reach the tables") {
    val dir = tmpDir("process-bad")
    Files.write(Paths.get(dir, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "99\t100\t101\tQQ\tWRONG-1\tT\t30\n").getBytes)
    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    assert(r.statuses.exists(s => s.name.endsWith(".maf") && s.status == "INVALID"))
    assert(!r.tables.contains("maf"))
  }

  test("ProcessMain: file-backed state round-trips across two runs") {
    val in = tmpDir("pm-in")
    val state = tmpDir("pm-state")
    stage(in)
    ProcessMain.main(Array("CTR", in, state))
    // state persisted: statuses + merged tables as parquet
    assert(new java.io.File(s"$state/file_status.parquet").exists())
    assert(spark.read.parquet(s"$state/tables/clinical").count() == 1)
    assert(spark.read.parquet(s"$state/tables/maf").count() == 1)
    // second run loads the state and md5-skips everything; tables intact
    ProcessMain.main(Array("CTR", in, state))
    assert(spark.read.parquet(s"$state/tables/maf").count() == 1)
  }

  test("ProcessMain: a failed table swap keeps the previous table and fails the run") {
    val in = tmpDir("pm-in")
    val state = tmpDir("pm-state")
    stage(in)
    ProcessMain.main(Array("CTR", in, state))
    // a changed MAF makes run 2 rewrite the maf table, on a filesystem
    // whose rename of the new table into place fails
    Files.write(Paths.get(in, "data_mutations_extended_CTR.maf"),
      ("CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\tTUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n" +
        "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t500\t501\tG\tGENIE-CTR-p1-s1\tC\t30\n").getBytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failtmprename.impl", classOf[FailTmpRenameFileSystem].getName)
    hconf.setBoolean("fs.failtmprename.impl.disable.cache", true)
    val e =
      try intercept[IllegalStateException] {
        ProcessMain.main(Array("CTR", in, s"failtmprename://$state"))
      } finally Seq("fs.failtmprename.impl", "fs.failtmprename.impl.disable.cache")
        .foreach(hconf.unset)
    // the live table is the previous run's, readable and complete
    assert(new java.io.File(s"$state/tables/maf").isDirectory,
      s"the maf table is gone after: ${e.getMessage}")
    assert(spark.read.parquet(s"$state/tables/maf").count() == 1)
    assert(spark.read.parquet(s"$state/tables/clinical").count() == 1)
    assert(e.getMessage.contains("original restored"), e.getMessage)
  }

  private val mafHeader = "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\t" +
    "TUMOR_SAMPLE_BARCODE\tTUMOR_SEQ_ALLELE2\tT_DEPTH\n"

  /** ProcessMain.main's stdout. */
  private def processMainOut(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(ProcessMain.main(args.toArray))
    buf.toString("UTF-8")
  }

  test("ProcessMain: stdout is pinned, whatever order the overlapped checks finish in") {
    val in = tmpDir("pm-out-in")
    // invalid clinical pair (sample id prefix), one valid and one invalid MAF
    Files.write(Paths.get(in, "data_clinical_supp_sample_CTR.txt"),
      ("SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\n" +
        "BAD-p1-s1\tGENIE-CTR-p1\t1200\tLUAD\t1\tCTR-A1\n").getBytes)
    Files.write(Paths.get(in, "data_clinical_supp_patient_CTR.txt"),
      "PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\nGENIE-CTR-p1\t1\t1\t1\t1950\n".getBytes)
    Files.write(Paths.get(in, "data_mutations_a.maf"),
      (mafHeader + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n").getBytes)
    Files.write(Paths.get(in, "data_mutations_b.maf"),
      (mafHeader + "99\t200\t201\tA\tGENIE-CTR-p1-s1\tG\t30\n").getBytes)
    // a fresh state, then a re-run on it (the valid MAF md5-skips)
    def twoRuns(): String = {
      val state = tmpDir("pm-out-state")
      processMainOut("CTR", in, state) + processMainOut("CTR", in, state)
    }
    val statuses =
      """STATUS data_clinical_supp_sample_CTR.txt: INVALID
        |STATUS data_clinical_supp_patient_CTR.txt: INVALID
        |STATUS data_mutations_a.maf: VALIDATED
        |STATUS data_mutations_b.maf: INVALID
        |""".stripMargin
    val errors =
      """ERROR data_clinical_supp_sample_CTR.txt: Sample Clinical File: SAMPLE_ID must start with GENIE-CTR
        |ERROR data_clinical_supp_sample_CTR.txt: Sample Clinical File: PATIENT_ID's much be contained in the SAMPLE_ID's (ex. SAGE-1 <-> SAGE-1-2)
        |ERROR data_mutations_b.maf: maf: Please double check your CHROMOSOME column.  This column must only be these values: 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, X, Y, MT
        |""".stripMargin
    val want = statuses + errors + statuses + "SKIPPED data_mutations_a.maf (unchanged md5)\n" + errors
    val first = twoRuns()
    assert(first == want)
    assert(twoRuns() == first)
  }

  test("ProcessMain: ERROR lines of 5 invalid MAFs come in sorted-name order") {
    val in = tmpDir("pm-errors-in")
    val names = ('a' to 'e').map(c => s"data_mutations_$c.maf")
    // each file fails the chromosome domain check; a scala.Map of 5
    // keys would iterate them in hash order
    names.foreach(n => Files.write(Paths.get(in, n),
      (mafHeader + "99\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n").getBytes))
    val errors = processMainOut("CTR", in, tmpDir("pm-errors-state")).linesIterator
      .filter(_.startsWith("ERROR ")).map(_.stripPrefix("ERROR ").takeWhile(_ != ':')).toSeq
    assert(errors == names)
  }

  test("two MAF files upsert in sorted-name order: the later file's row wins") {
    val dir = tmpDir("process-order")
    Files.write(Paths.get(dir, "data_mutations_a.maf"),
      (mafHeader + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t200\t201\tG\tGENIE-CTR-p1-s1\tC\t30\n").getBytes)
    // same primary key as a's first row, new depth
    Files.write(Paths.get(dir, "data_mutations_b.maf"),
      (mafHeader + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t99\n").getBytes)
    val r = ProcessJob.run(spark, "CTR", dir, Nil, Map.empty)
    assert(r.statuses.map(s => (s.name, s.status)) ==
      Seq(("data_mutations_a.maf", "VALIDATED"), ("data_mutations_b.maf", "VALIDATED")))
    assert(r.tables("maf").select("CHROMOSOME", "T_DEPTH").as[(String, String)].collect().toSet ==
      Set(("1", "99"), ("2", "30")))
  }

  test("ProcessMain: a MAF check that throws fails the run before any table or status is written") {
    val in = tmpDir("pm-throw-in")
    val state = tmpDir("pm-throw-state")
    stage(in)
    // a dotted header name does not resolve as a column: the MAF's
    // overlapped check throws
    val unreadable = (mafHeader.replace("T_DEPTH", "T.DEPTH") +
      "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t1\n").getBytes
    Files.write(Paths.get(in, "data_mutations_z.maf"), unreadable)
    // the read error surfaces, not a sibling check's job that its
    // failure cancelled
    def failsOnUnreadableMaf(): Unit =
      intercept[org.apache.spark.sql.AnalysisException](ProcessMain.main(Array("CTR", in, state)))
    failsOnUnreadableMaf()
    assert(!Files.exists(Paths.get(state, "file_status.parquet")))
    assert(!Files.exists(Paths.get(state, "tables")))

    // with state in place: the live tables and statuses stay as they were
    Files.delete(Paths.get(in, "data_mutations_z.maf"))
    ProcessMain.main(Array("CTR", in, state))
    val before = spark.read.parquet(s"$state/file_status.parquet").as[ProcessJob.FileStatus]
      .collect().toSet
    Files.write(Paths.get(in, "data_mutations_extended_CTR.maf"),
      (mafHeader + "1\t100\t101\tA\tGENIE-CTR-p1-s1\tT\t30\n" +
        "2\t500\t501\tG\tGENIE-CTR-p1-s1\tC\t30\n").getBytes)
    Files.write(Paths.get(in, "data_mutations_z.maf"), unreadable)
    failsOnUnreadableMaf()
    assert(spark.read.parquet(s"$state/tables/maf").count() == 1)
    assert(spark.read.parquet(s"$state/file_status.parquet").as[ProcessJob.FileStatus]
      .collect().toSet == before)
  }

  test("ProcessMain on the caller's session leaves the caller's log level alone") {
    import org.apache.logging.log4j.{Level, LogManager}
    val in = tmpDir("pm-log-in")
    stage(in)
    spark.sparkContext.setLogLevel("ERROR")
    ProcessMain.main(Array("CTR", in, tmpDir("pm-log-state")))
    assert(LogManager.getRootLogger.getLevel == Level.ERROR)
  }
}

/** Local filesystem under the `failtmprename` scheme whose rename of a
  * `__tmp_*` directory fails, as a full disk or a dying JVM would leave
  * the second rename of a table swap.
  */
class FailTmpRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failtmprename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.startsWith("__tmp_") && super.rename(src, dst)
}

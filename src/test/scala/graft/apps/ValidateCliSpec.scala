package graft.apps

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.formats.FileType

/** End-to-end dispatcher coverage for the `genie validate` analog: every
  * file type in the reference registry (genie_registry/__init__.py:28-42)
  * must resolve through the [[FileType]] registry and run its validator.
  */
class ValidateCliSpec extends SparkSpec {

  test("fileType: all 12 registry file types dispatch") {
    val expected = Map(
      "data_clinical_supp_sample_C.txt"    -> "clinical_sample",
      "data_clinical_supp_patient_C.txt"   -> "clinical_patient",
      "data_mutations_extended_C.txt"      -> "maf",
      "GENIE-C-0001.vcf"                   -> "vcf",
      "C_panel.bed"                        -> "bed",
      "genie_data_cna_hg19_C.seg"          -> "seg",
      "C_assay_information.yaml"           -> "assay",
      "data_CNA_C.txt"                     -> "cna",
      "data_sv.txt"                        -> "sv",
      "mutationsInCis_filtered_samples.csv" -> "mutationsInCis",
      "sampleRetraction.csv"               -> "sampleRetraction",
      "patientRetraction.csv"              -> "patientRetraction",
      "C_workflow.md"                      -> "workflow")
    expected.foreach { case (name, tpe) =>
      assert(FileType.of(name, "C").map(_.key) == Some(tpe), s"$name → expected $tpe")
    }
    // the registry holds exactly these types, one key each
    assert(FileType.all.map(_.key).sorted == expected.values.toSeq.sorted)
    // wrong-center CNA file must NOT dispatch as cna (cna.py:120-121
    // asserts the exact data_CNA_{center}.txt name)
    assert(FileType.of("data_CNA_OTHER.txt", "C").isEmpty)
    assert(FileType.of("random.bin", "C").isEmpty)
  }

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  /** One file of every registry type; the CNA file is deliberately broken. */
  private def registryDir(): String = {
    val dir = tmpDir("validate-cli")
    def write(name: String, text: String): Unit = this.write(dir, name, text)

    write("data_clinical_supp_sample_C.txt",
      "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\n" +
        "GENIE-C-p1-s1\tGENIE-C-p1\t30\tLUAD\tPrimary\tC-A1\n")
    write("data_clinical_supp_patient_C.txt",
      "PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\n" +
        "GENIE-C-p1\t1\t1\t1\t1970\n")
    write("data_mutations_extended_C.txt",
      "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\t" +
        "TUMOR_SEQ_ALLELE2\tTUMOR_SAMPLE_BARCODE\tT_DEPTH\tT_REF_COUNT\tT_ALT_COUNT\n" +
        "1\t100\t101\tA\tT\tGENIE-C-p1-s1\t30\t20\t10\n")
    write("GENIE-C-0001.vcf",
      "##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tTUMOR\n" +
        "1\t100\trs1\tA\tT\t.\tPASS\tDP=4\tGT\t0/1\n")
    write("C_panel.bed", "1\t10\t500\tTP53\ttrue\n")
    write("genie_data_cna_hg19_C.seg",
      "ID\tCHROM\tLOC.START\tLOC.END\tNUM.MARK\tSEG.MEAN\n" +
        "GENIE-C-p1-s1\t1\t100\t200\t5\t0.25\n")
    write("C_assay_information.yaml",
      """C-A1:
        |  platform: Illumina
        |  read_length: 100
        |  library_strategy: Targeted Sequencing
        |  library_selection: Hybrid Selection
        |  instrument_model: HiSeq
        |  target_capture_kit: kit1
        |  calling_strategy: tumor_only
        |  specimen_tumor_cellularity: ">10%"
        |  assay_specific_info:
        |    - SEQ_ASSAY_ID: C-A1
        |      number_of_genes: 100
        |      alteration_types: [snv]
        |      preservation_technique: [FFPE]
        |      coverage: [hotspot_regions]
        |""".stripMargin)
    // invalid CNA: first column not Hugo_Symbol + a foreign sample prefix
    write("data_CNA_C.txt",
      "WRONG\tGENIE-OTHER-1\n" + "TP53\t1.0\n")
    write("data_sv.txt",
      "SAMPLE_ID\tSV_STATUS\n" + "GENIE-C-p1-s1\tSOMATIC\n")
    write("mutationsInCis_filtered_samples.csv",
      "Flag,Center,Tumor_Sample_Barcode,Hugo_Symbol,HGVSp_Short," +
        "Variant_Classification,Chromosome,Start_Position,Reference_Allele," +
        "Tumor_Seq_Allele2,t_alt_count_num,t_depth\n" +
        "flag,C,GENIE-C-p1-s1,TP53,p.V600E,Missense,1,100,A,T,10,30\n")
    write("sampleRetraction.csv", "GENIE-C-p9-s9\n")
    write("patientRetraction.csv", "GENIE-C-p9\n")
    write("C_workflow.md", "# workflow\n")
    dir
  }

  test("run: full registry directory end-to-end, error files flagged") {
    val dir = registryDir()
    // the deliberately-broken CNA file must surface as an error
    assert(ValidateCli.run(spark, "C", dir))

    // with the CNA file fixed the directory passes clean
    write(dir, "data_CNA_C.txt",
      "Hugo_Symbol\tGENIE-C-p1-s1\n" + "TP53\t1.0\n")
    assert(!ValidateCli.run(spark, "C", dir))
  }

  test("run: stdout is clinical first, then files in name order, byte-stable") {
    val dir = registryDir()
    // a clinical defect too, so the clinical lines lead the output
    write(dir, "data_clinical_supp_sample_C.txt",
      "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\n" +
        "GENIE-C-p1-s1\tGENIE-C-p1\tabc\tLUAD\tPrimary\tC-A1\n")
    def captured(): (Boolean, String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val anyError = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        ValidateCli.run(spark, "C", dir)
      }
      (anyError, buf.toString("UTF-8"))
    }
    val (anyError, out) = captured()
    assert(anyError)
    assert(out.linesIterator.toSeq == Seq(
      "clinical error age_at_seq_report: Sample Clinical File: Please double check your " +
        "AGE_AT_SEQ_REPORT. It must be an integer, 'Unknown', '>32485', '<6570'.",
      "C_workflow.md info workflow: md passthrough",
      "data_CNA_C.txt error first_column: Your cnv file's first column must be Hugo_Symbol",
      "data_CNA_C.txt error sample_columns: cnv: samples must start with GENIE-C",
      "patientRetraction.csv info retraction_ids: 1 ids to retract",
      "sampleRetraction.csv info retraction_ids: 1 ids to retract"))
    assert(captured() == ((anyError, out)), "two runs printed different bytes")
  }

  test("run: malformed VCF, headered BED and foreign cis barcodes print their findings") {
    val dir = tmpDir("validate-cli-malformed")
    write(dir, "GENIE-C-0001.vcf",
      "##fileformat=VCFv4.2\n" + "1\t100\trs1\tA\tT\t.\tPASS\tDP=4\n")
    write(dir, "C_panel.bed",
      "Chromosome\tStart\tEnd\tGene\tPanel\n" + "1\t10\t500\tTP53\ttrue\n")
    write(dir, "mutationsInCis_filtered_samples.csv",
      "Flag,Center,Tumor_Sample_Barcode,Hugo_Symbol,HGVSp_Short," +
        "Variant_Classification,Chromosome,Start_Position,Reference_Allele," +
        "Tumor_Seq_Allele2,t_alt_count_num,t_depth\n" +
        "flag,C,GENIE-X-p1-s1,TP53,p.V600E,Missense,1,100,A,T,10,30\n" +
        "flag,C,GENIE-X-p2-s1,KRAS,p.G12D,Missense,12,200,C,T,8,40\n")
    val buf = new java.io.ByteArrayOutputStream()
    val anyError = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      ValidateCli.run(spark, "C", dir)
    }
    assert(anyError)
    assert(buf.toString("UTF-8").replace(dir, "<dir>").linesIterator.toSeq == Seq(
      "C_panel.bed error bed_header: <dir>/C_panel.bed: first BED value 'Chromosome' " +
        "looks like a header \u2014 BED files are headerless",
      "GENIE-C-0001.vcf error not_vcf: <dir>/GENIE-C-0001.vcf: no #CHROM header line \u2014 not a VCF",
      "mutationsInCis_filtered_samples.csv error identifier_prefix: " +
        "Mutations In Cis Filter File: TUMOR_SAMPLE_BARCODE must start with GENIE-C"))
  }
}

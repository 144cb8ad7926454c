package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded multi-center GENIE upload with planted defects and the ground
  * truth they imply.
  *
  * Every center uploads the FIXTURES.md formats: a clinical sample and
  * patient pair, a MAF, one BED per assay panel, a wide CNA matrix, a SEG file, an
  * SV file and an assay YAML. Shared reference files (oncotree JSON,
  * somatic whitelist) sit next to the center folders. Exactly one file of
  * each kind (7 of the 9 x centers files) carries one defect whose rule
  * is known; the seed picks the center. The clinical, MAF and first BED
  * defects share one center, so the amount of work that reaches the
  * tables and the release is the same for every seed. The
  * release-relevant content carries known F3/F4/F1/F2/F5/F6 cases, so
  * verdicts, kept/dropped samples and released variant counts are all
  * computed here without running the program.
  *
  * Positions are placed far from every filter boundary (variants sit
  * well inside or well outside padded panel regions; cis pairs are 3 bp
  * apart, other neighbours at least ~90 kb apart), so the expected
  * outcome does not hinge on an inclusive/exclusive edge.
  */
final case class UploadSize(centers: Int, samplesPerCenter: Int, variantsPerSample: Int,
                            genes: Int, cnaSamples: Int, segsPerSample: Int,
                            deltaRowShare: Double)

object UploadSize {
  // Every genie_cycle stage takes seconds on a 4-core box; the stages are
  // bound by per-job overhead, so fewer centers, not fewer rows, is what
  // keeps a run inside the benchmark's time budget.
  val default: UploadSize = UploadSize(centers = 2, samplesPerCenter = 400,
    variantsPerSample = 20, genes = 240, cnaSamples = 60, segsPerSample = 8,
    deltaRowShare = 0.01)
}

object GenieUpload {

  /** File kinds a center uploads, in planting order. */
  val kinds: Seq[String] = Seq("clinical", "maf", "bed", "cna", "seg", "sv", "assay")

  /** The rule ValidateCli reports for the one defect planted per kind;
    * the clinical pair reports under the name "clinical". */
  val plantedRule: Map[String, String] = Map(
    "clinical" -> "age_at_seq_report", "maf" -> "chromosome_domain",
    "bed" -> "bed_header", "cna" -> "value_domain", "seg" -> "chrom_domain",
    "sv" -> "duplicate_rows", "assay" -> "platform")

  final case class Variant(sample: String, chrom: String, start: Long, ref: String,
                           alt: String, depth: Int, altCount: Int, gnomad: Double,
                           gene: Int)

  final case class Center(name: String, dir: Path, invalid: Set[String],
                          fileNames: Map[String, String], samples: Seq[Sample],
                          variants: Seq[Variant], panelAssays: Seq[String])

  final case class Sample(id: String, patient: String, assay: String, oncotree: String,
                          ageDays: String)

  /** Expected outcome of validation plus release filters F1-F10. */
  final case class Truth(errorRules: Map[(String, String), Set[String]],
                         releasedSamples: Set[String], droppedSamples: Set[String],
                         releasedVariants: Long, cancerTypes: Set[String],
                         panelAssays: Set[String], uploadedRows: Long)

  final case class Upload(root: Path, centers: Seq[Center], truth: Truth,
                          oncotreePath: Path, whitelistPath: Path)

  private val oncotree: Seq[(String, String, String)] = Seq(
    // code, tissue (level-1 code), cancer type
    ("LUAD", "LUNG", "Non-Small Cell Lung Cancer"), ("LUSC", "LUNG", "Non-Small Cell Lung Cancer"),
    ("BRCA", "BREAST", "Breast Cancer"), ("IDC", "BREAST", "Breast Cancer"),
    ("COAD", "BOWEL", "Colorectal Cancer"), ("READ", "BOWEL", "Colorectal Cancer"),
    ("PAAD", "PANCREAS", "Pancreatic Cancer"), ("SKCM", "SKIN", "Melanoma"),
    ("GBM", "BRAIN", "Glioma"), ("PRAD", "PROSTATE", "Prostate Cancer"))
  /** Code absent from the oncotree: F6 drops its samples. */
  val deprecatedCode = "OLDCODE"

  private def geneName(g: Int) = f"GENE$g%03d"
  private def geneChrom(g: Int) = ((g % 22) + 1).toString
  private def geneStart(g: Int): Long = 1000000L + (g / 22) * 100000L
  private val geneLen = 2000L
  /** Genes whose whole region is on the somatic whitelist (F2). */
  private def whitelisted(g: Int) = g % 10 == 0

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }

  def generate(root: Path, seed: Long, size: UploadSize): Upload = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(root)
    val oncotreePath = root.resolve("oncotree.json")
    write(oncotreePath, oncotreeJson)
    val whitelistPath = root.resolve("somatic_whitelist.txt")
    write(whitelistPath, "CHROMOSOME\tSTART_POSITION\tEND_POSITION\n" +
      (0 until size.genes).filter(whitelisted).map(g =>
        s"${geneChrom(g)}\t${geneStart(g)}\t${geneStart(g) + geneLen}\n").mkString)

    require(size.centers >= 2, "one center carries the table defects, another must not")
    val broken = rnd.nextInt(size.centers)
    val invalidSlots = Seq("clinical", "maf", "bed").map(k => (broken, k)).toSet ++
      Seq("cna", "seg", "sv", "assay").map(k => (rnd.nextInt(size.centers), k))

    val centers = (0 until size.centers).map { ci =>
      val name = s"C${('A' + ci).toChar}"
      val invalid = kinds.filter(k => invalidSlots((ci, k))).toSet
      genCenter(root.resolve("upload").resolve(name), name, invalid, size,
        new SplittableRandom(rnd.nextLong()))
    }
    Upload(root, centers, truth(centers), oncotreePath, whitelistPath)
  }

  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private val bases = Array("A", "C", "G", "T")

  private def genCenter(dir: Path, name: String, invalid: Set[String], size: UploadSize,
                        rnd: SplittableRandom): Center = {
    val panels = Seq(s"$name-P1", s"$name-P2")
    // P1 covers every gene, P2 the first two thirds
    val panelGenes = Map(panels(0) -> (0 until size.genes),
      panels(1) -> (0 until size.genes * 2 / 3))
    val noBed = s"$name-NOBED" // F5: an assay without a panel
    val samples = (0 until size.samplesPerCenter).map { i =>
      val patient = s"GENIE-$name-${i / 4 * 3 + i % 3}"
      val assay = if (i % 50 == 7) noBed else panels(i % 2)
      val code = if (i % 40 == 11) deprecatedCode else oncotree(rnd.nextInt(oncotree.size))._1
      val age = if (i % 30 == 0) ">32485" else (7000 + rnd.nextInt(23000)).toString
      Sample(s"$patient-S$i", patient, assay, code, age)
    }
    val variants = samples.zipWithIndex.flatMap { case (s, i) =>
      val genes = panelGenes.getOrElse(s.assay, panelGenes(panels(0)))
      val picked = shuffle(genes, rnd).take(size.variantsPerSample)
      val vs = picked.zipWithIndex.map { case (g, j) =>
        val outOfPanel = j == 0 && i % 5 == 1 // F3 drop: far outside every region
        val start = geneStart(g) + (if (outOfPanel) 50000L else 100L + rnd.nextInt(1700))
        val germline = j == 1 && i % 3 == 0 // F1: dropped unless whitelisted (F2)
        val depth = 50 + rnd.nextInt(400)
        Variant(s.id, geneChrom(g), start, bases(rnd.nextInt(4)), bases(rnd.nextInt(4)),
          depth, 5 + rnd.nextInt(depth - 10), if (germline) 0.01 else 0.0, g)
      }.map(v => if (v.ref == v.alt) v.copy(alt = if (v.ref == "A") "C" else "A") else v)
      // F4: a cis pair (3 bp apart, equal VAF) tosses the whole sample
      if (i % 60 == 13) {
        val v = vs.find(_.gnomad == 0.0).get
        vs :+ v.copy(start = v.start + 3)
      } else vs
    }

    val fileNames = Map(
      "clinical" -> s"data_clinical_supp_sample_$name.txt",
      "patient" -> s"data_clinical_supp_patient_$name.txt",
      "maf" -> s"data_mutations_extended_$name.txt",
      "bed" -> s"${panels(0)}.bed",
      "bed2" -> s"${panels(1)}.bed",
      "cna" -> s"data_CNA_$name.txt",
      "seg" -> s"genie_data_cna_hg19_$name.seg",
      "sv" -> "data_sv.txt",
      "assay" -> s"${name}_assay_information.yaml")
    def path(kind: String) = dir.resolve(fileNames(kind))

    write(path("clinical"), clinicalSampleText(samples, invalid("clinical")))
    write(path("patient"), clinicalPatientText(samples, rnd))
    write(path("maf"), mafText(variants, invalid("maf")))
    // one headerless BED per assay; the file name carries SEQ_ASSAY_ID
    Seq("bed" -> panels(0), "bed2" -> panels(1)).foreach { case (kind, p) =>
      write(path(kind), (if (invalid(kind)) "Chromosome\tStart\tEnd\tGene\tinclude\n" else "") +
        panelGenes(p).map(g =>
          s"${geneChrom(g)}\t${geneStart(g)}\t${geneStart(g) + geneLen}\t${geneName(g)}\ttrue\n").mkString)
    }
    write(path("cna"), cnaText(samples.take(size.cnaSamples), size.genes, invalid("cna"), rnd))
    write(path("seg"), segText(samples, size.segsPerSample, invalid("seg"), rnd))
    write(path("sv"), svText(samples, invalid("sv"), rnd))
    write(path("assay"), assayYaml(name, panels :+ noBed, invalid("assay")))
    Center(name, dir, invalid, fileNames, samples, variants, panels)
  }

  private def clinicalSampleText(samples: Seq[Sample], plantDefect: Boolean): String = {
    val sb = new StringBuilder(
      "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\tSAMPLE_CLASS\n")
    samples.zipWithIndex.foreach { case (s, i) =>
      val age = if (plantDefect && i == samples.size / 2) "about ten" else s.ageDays
      sb ++= s"${s.id}\t${s.patient}\t$age\t${s.oncotree}\t1\t${s.assay}\tTumor\n"
    }
    sb.toString
  }

  private def clinicalPatientText(samples: Seq[Sample], rnd: SplittableRandom): String = {
    val sb = new StringBuilder("PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\t" +
      "YEAR_CONTACT\tINT_CONTACT\tDEAD\tINT_DOD\tYEAR_DEATH\n")
    samples.map(_.patient).distinct.foreach { p =>
      val birth = if (rnd.nextInt(25) == 0) ">89" else (1930 + rnd.nextInt(70)).toString
      val contact = 2015 + rnd.nextInt(10)
      val intContact = 8000 + rnd.nextInt(20000)
      val dead = rnd.nextInt(5) == 0
      val (dod, yDeath) =
        if (dead) ((intContact + rnd.nextInt(900)).toString, (contact + 1).toString)
        else ("Not Applicable", "Not Applicable")
      sb ++= s"$p\t${1 + rnd.nextInt(2)}\t${1 + rnd.nextInt(5)}\t${1 + rnd.nextInt(3)}\t$birth\t" +
        s"$contact\t$intContact\t${if (dead) "True" else "False"}\t$dod\t$yDeath\n"
    }
    sb.toString
  }

  val mafHeader: String = "Hugo_Symbol\tChromosome\tStart_Position\tEnd_Position\t" +
    "Reference_Allele\tTumor_Seq_Allele1\tTumor_Seq_Allele2\tTumor_Sample_Barcode\t" +
    "t_depth\tt_ref_count\tt_alt_count\tn_depth\tgnomAD_AF\n"

  def mafRow(v: Variant, chrom: String): String =
    s"${geneName(v.gene)}\t$chrom\t${v.start}\t${v.start}\t${v.ref}\t${v.ref}\t${v.alt}\t${v.sample}\t" +
      s"${v.depth}\t${v.depth - v.altCount}\t${v.altCount}\t${v.depth}\t${v.gnomad}\n"

  private def mafText(variants: Seq[Variant], plantDefect: Boolean): String = {
    val sb = new StringBuilder(mafHeader)
    variants.zipWithIndex.foreach { case (v, i) =>
      sb ++= mafRow(v, if (plantDefect && i == variants.size / 3) "23" else v.chrom)
    }
    sb.toString
  }

  private def cnaText(samples: Seq[Sample], genes: Int, plantDefect: Boolean,
                      rnd: SplittableRandom): String = {
    val values = Array("-2", "-1", "0", "0", "0", "1", "2", "")
    val sb = new StringBuilder("Hugo_Symbol\t" + samples.map(_.id).mkString("\t") + "\n")
    for (g <- 0 until genes) {
      sb ++= geneName(g)
      samples.indices.foreach { j =>
        sb += '\t'
        sb ++= (if (plantDefect && g == genes / 2 && j == 0) "3" else values(rnd.nextInt(values.length)))
      }
      sb += '\n'
    }
    sb.toString
  }

  private def segText(samples: Seq[Sample], perSample: Int, plantDefect: Boolean,
                      rnd: SplittableRandom): String = {
    val sb = new StringBuilder("ID\tCHROM\tLOC.START\tLOC.END\tNUM.MARK\tSEG.MEAN\n")
    samples.zipWithIndex.foreach { case (s, i) =>
      (0 until perSample).foreach { k =>
        val chrom = if (plantDefect && i == 1 && k == 0) "23" else ((k % 22) + 1).toString
        val start = 10000L + k * 1000000L
        val mean = (rnd.nextInt(20001) - 10000) / 10000.0
        sb ++= s"${s.id}\t$chrom\t$start\t${start + 500000}\t${10 + rnd.nextInt(90)}\t$mean\n"
      }
    }
    sb.toString
  }

  private def svText(samples: Seq[Sample], plantDefect: Boolean, rnd: SplittableRandom): String = {
    val header = "SAMPLE_ID\tSV_STATUS\tSITE1_HUGO_SYMBOL\tSITE2_HUGO_SYMBOL\t" +
      "SITE1_POSITION\tSITE2_POSITION\tNCBI_BUILD\tBREAKPOINT_TYPE\tCONNECTION_TYPE\n"
    val rows = samples.zipWithIndex.filter(_._2 % 4 == 0).map { case (s, i) =>
      s"${s.id}\tSOMATIC\t${geneName(i % 50)}\t${geneName(i % 50 + 1)}\t" +
        s"${1000000 + rnd.nextInt(1000000)}\t${1000000 + rnd.nextInt(1000000)}\tGRCh37\tPRECISE\t5to3\n"
    }
    header + rows.mkString + (if (plantDefect) rows.head else "")
  }

  private def assayYaml(center: String, assays: Seq[String], plantDefect: Boolean): String =
    assays.map { a =>
      s"""$a:
         |  platform: ${if (plantDefect && a == assays.head) "Nanopore" else "Illumina"}
         |  read_length: 100
         |  library_strategy: Targeted Sequencing
         |  library_selection: Hybrid Selection
         |  instrument_model: HiSeq
         |  target_capture_kit: kit1
         |  calling_strategy: tumor_only
         |  assay_specific_info:
         |    - SEQ_ASSAY_ID: $a
         |      number_of_genes: 100
         |      gene_padding: 10
         |      specimen_tumor_cellularity: ">10%"
         |      alteration_types: [snv, small_indels]
         |      preservation_technique: [FFPE]
         |      coverage: [hotspot_regions, coding_exons]
         |""".stripMargin
    }.mkString

  private def oncotreeJson: String = {
    val byTissue = oncotree.groupBy(_._2).toSeq.sortBy(_._1)
    val tissues = byTissue.map { case (tissue, codes) =>
      val children = codes.map { case (code, _, ct) =>
        s""""$code": {"code": "$code", "name": "$code detailed", "mainType": "$ct", "level": 2, "children": {}}"""
      }.mkString(", ")
      s""""$tissue": {"code": "$tissue", "name": "$tissue", "mainType": null, "level": 1, "children": {$children}}"""
    }.mkString(", ")
    s"""{"TISSUE": {"code": "TISSUE", "name": "Tissue", "mainType": null, "level": 0, "children": {$tissues}}}"""
  }

  /** The nightly re-upload: every file again, with the MAF of each
    * center whose base MAF validated changed by `deltaRowShare` of its
    * rows, half as edits to non-key columns and half as appended
    * variants. `changed` holds, per changed center, just the files that
    * differ, which is what the nightly validation sees. */
  final case class Delta(upload: Path, changed: Map[String, Path],
                         changedFiles: Map[String, Set[String]], changedRows: Long,
                         uploadedRows: Long)

  def deriveNightly(up: Upload, seed: Long, size: UploadSize): Delta = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val deltaRoot = up.root.resolve("nightly")
    var changedRows = 0L
    val changed = up.centers.flatMap { c =>
      val dir = deltaRoot.resolve("upload").resolve(c.name)
      Files.createDirectories(dir)
      c.fileNames.values.foreach(n => Files.copy(c.dir.resolve(n), dir.resolve(n)))
      if (c.invalid("maf")) None
      else {
        val n = math.max(1, math.round(c.variants.size * size.deltaRowShare / 2).toInt)
        val edited = shuffle(c.variants.indices, rnd).take(n).toSet
        val appendTo = shuffle(c.samples.indices, rnd).take(n).map(c.samples(_).id).toSet
        val variants = c.variants.zipWithIndex.map { case (v, i) =>
          if (!edited(i)) v
          else v.copy(altCount = if (v.altCount + 1 < v.depth) v.altCount + 1 else v.altCount - 1)
        } ++ c.variants.filter(v => appendTo(v.sample)).groupBy(_.sample).values.map { vs =>
          // a fresh key: past every base position in the sample's first gene
          val v = vs.head
          v.copy(start = geneStart(v.gene) + 1900L, gnomad = 0.0)
        }.toSeq.sortBy(_.sample)
        changedRows += 2L * n
        val maf = c.fileNames("maf")
        write(dir.resolve(maf), mafText(variants, plantDefect = false))
        val only = deltaRoot.resolve("changed").resolve(c.name)
        Files.createDirectories(only)
        Files.copy(dir.resolve(maf), only.resolve(maf))
        Some(c.name -> only)
      }
    }.toMap
    Delta(deltaRoot.resolve("upload"), changed,
      changed.keys.map(c => c -> Set(up.centers.find(_.name == c).get.fileNames("maf"))).toMap,
      changedRows, up.centers.map(c => dataRows(deltaRoot.resolve("upload").resolve(c.name))).sum)
  }

  /** Assays whose BED validates; a planted BED defect sits in P1's file. */
  def validPanels(c: Center): Set[String] =
    if (c.invalid("bed")) c.panelAssays.toSet - c.panelAssays.head else c.panelAssays.toSet

  /** Data rows in a center folder: lines after the header of every
    * tabular file, every line of a (headerless) BED, one per YAML assay. */
  def dataRows(dir: Path): Long = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.toSeq.map { f =>
      val lines = Files.readAllLines(f, UTF_8).asScala
      val name = f.getFileName.toString
      if (name.endsWith(".bed")) lines.size.toLong
      else if (name.endsWith(".yaml")) lines.count(l => l.nonEmpty && !l.startsWith(" ")).toLong
      else (lines.size - 1).toLong
    }.sum
  }

  /** Ground truth. Files a center uploads validate clean unless planted;
    * a planted clinical or MAF file never reaches the tables, a planted
    * BED removes that assay's panel (F5 then drops its samples). */
  private def truth(centers: Seq[Center]): Truth = {
    val errorRules = centers.flatMap { c =>
      c.invalid.toSeq.map { k =>
        val file = if (k == "clinical") "clinical" else c.fileNames(k)
        (c.name, file) -> Set(plantedRule(k))
      }
    }.toMap
    val cancerType = oncotree.map(o => o._1 -> o._3).toMap
    val perCenter = centers.filter(c => !c.invalid("clinical")).map { c =>
      val panels = validPanels(c)
      val released = c.samples.filter(s => panels(s.assay) && cancerType.contains(s.oncotree))
      val releasedIds = released.map(_.id).toSet
      val variants =
        if (c.invalid("maf")) Seq.empty[Variant]
        else {
          val assayOf = c.samples.map(s => s.id -> s.assay).toMap
          def inPanel(v: Variant) = panels(assayOf(v.sample)) &&
            v.start - geneStart(v.gene) < geneLen
          val inBed = c.variants.filter(inPanel)
          val tossed = inBed.groupBy(v => (v.sample, v.chrom)).collect {
            case ((s, _), vs) if vs.map(_.start).sorted.sliding(2).exists {
              case Seq(a, b) => b - a > 0 && b - a < 6
              case _ => false
            } => s
          }.toSet
          inBed.filter(v => !tossed(v.sample) && releasedIds(v.sample) &&
            (v.gnomad <= 5e-4 || whitelisted(v.gene)))
        }
      (released, c.samples.filterNot(s => releasedIds(s.id)), variants.size.toLong)
    }
    val released = perCenter.flatMap(_._1)
    val uploadedRows = centers.map(c => dataRows(c.dir)).sum
    Truth(errorRules,
      releasedSamples = released.map(_.id).toSet,
      droppedSamples = perCenter.flatMap(_._2).map(_.id).toSet,
      releasedVariants = perCenter.map(_._3).sum,
      cancerTypes = released.map(s => cancerType(s.oncotree)).toSet,
      panelAssays = centers.flatMap(validPanels).toSet,
      uploadedRows = uploadedRows)
  }
}

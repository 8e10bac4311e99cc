package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SeqTable
import graft.gen.InSilica
import graft.io.{Bai, Bam, Fastq, Sam}
import graft.ops._

/** A benchmark workload: seeded inputs written once in set-up, then passes
  * that call each layer's public functions on those files only.
  */
trait Workload {
  def name: String

  /** Write this seed's inputs under `dir`; returns the input facts
    * recorded with every result (sizes, and anything the checks need).
    */
  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): Map[String, Any]

  /** One full pass. */
  def pass(p: Pass, dir: String, facts: Map[String, Any]): Unit

}

object Workloads {
  val all: Seq[Workload] = Seq(AmpliconProfile, AmpliconIngest)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (have ${all.map(_.name).mkString(", ")})"))

  def writeText(path: String, text: String): Unit =
    Files.write(new File(path).toPath, text.getBytes(StandardCharsets.UTF_8))

  def readText(path: String): String =
    new String(Files.readAllBytes(new File(path).toPath), StandardCharsets.UTF_8)
}

/** The paper's core loop: one FASTQ of error-prone amplicon reads through
  * the per-position operators and the k-mer count.
  */
object AmpliconProfile extends Workload {
  val name = "amplicon_profile"
  val Reads = 600
  val Window = 300
  val ErrorRate = 0.02
  val K = 3
  val MinQ = 22
  val MinPct = 90.0

  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): Map[String, Any] = {
    val scaffold = InSilica.generateSequence(Window, seed = seed)
    val lib = InSilica.addQualityScores(
      InSilica.generateLibrary(spark, scaffold, Reads, ErrorRate, seed = seed), seed = seed + 1)
    val rows = lib.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1.stripPrefix("read_").toLong)
    val fq = new StringBuilder
    rows.foreach { case (id, s, q) => fq ++= s"@$id\n$s\n+\n$q\n" }
    Workloads.writeText(s"$dir/R1.fastq", fq.toString)
    Workloads.writeText(s"$dir/scaffold.txt", scaffold)
    Map("reads" -> Reads, "window" -> Window, "error_rate" -> ErrorRate, "k" -> K,
      "min_q" -> MinQ, "min_pct" -> MinPct, "records" -> Reads, "cells" -> Reads.toLong * Window)
  }

  def pass(p: Pass, dir: String, facts: Map[String, Any]): Unit = {
    val refs = Seq(RefSeq("scaffold", Workloads.readText(s"$dir/scaffold.txt"), 1))
    var fq: DataFrame = null
    var st: SeqTable = null
    var long: DataFrame = null
    var kept: SeqTable = null
    p.df("io.Fastq.read") { fq = Fastq.read(p.spark, s"$dir/R1.fastq"); fq }
    p.df("core.SeqTable.fromReadsDf") { st = SeqTable.fromReadsDf(fq); st.reads }
    p.df("core.SeqTable.long") { long = st.long; long }
    p.df("ops.Distributions.seqDist")(Distributions.seqDist(long))
    p.df("ops.Distributions.consensus")(Distributions.consensus(long))
    p.df("ops.Distributions.entropy")(Distributions.entropy(long))
    p.df("ops.Compare.hammingDistance")(Compare.hammingDistance(long, refs))
    p.df("ops.Compare.mutationProfile")(Compare.mutationProfile(long, refs))
    p.df("ops.QualityDist.apply")(QualityDist(long, QualityDist.fastqcBins(st.maxPos)))
    p.df("core.SeqTable.qualityFilter") { kept = st.qualityFilter(MinQ, MinPct); kept.reads }
    p.df("ops.Kmers.contiguous")(Kmers.contiguous(kept.reads, K, kept.minPos))
  }
}

/** The write path beside the read path: tiled amplicons with indel cigars
  * go SAM → sharded BAM → .bai → scan → realignment → insertion table,
  * then a closed loop of region fetches from one client.
  *
  * Depth is uneven, as in a real amplicon panel: the first amplicon holds
  * most reads. Its reads share one start position, so the range-sharded
  * layout cannot split them and one shard holds them all.
  */
object AmpliconIngest extends Workload {
  val name = "amplicon_ingest"
  val Tiles = 8
  val HotReads = 12800
  val ColdReads = 400
  val TileLen = 250
  val Stride = 200
  val InsRate = 0.15
  val DelRate = 0.15
  val SubRate = 0.01
  val Fetches = 12
  private val Nt = "ACGT"

  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): Map[String, Any] = {
    val rnd = new Random(seed)
    def bases(n: Int) = Array.fill(n)(Nt(rnd.nextInt(4))).mkString
    def quals(n: Int) = Array.fill(n)((33 + 20 + rnd.nextInt(21)).toChar).mkString
    val refLen = Stride * (Tiles - 1) + TileLen
    val ref = bases(refLen)
    val sam = new StringBuilder
    sam ++= s"@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:ref1\tLN:$refLen\n"
    var cells = 0L
    def depth(t: Int) = if (t == 0) HotReads else ColdReads
    for (t <- 0 until Tiles; i <- 0 until depth(t)) {
      val start = 1 + t * Stride
      val tpl = ref.substring(start - 1, start - 1 + TileLen)
        .map(c => if (rnd.nextDouble() < SubRate) Nt(rnd.nextInt(4)) else c)
      val u = rnd.nextDouble()
      val a = 20 + rnd.nextInt(TileLen - 40)
      val b = 1 + rnd.nextInt(3)
      val (cigar, seq) =
        if (u < InsRate) (s"${a}M${b}I${TileLen - a}M", tpl.take(a) + bases(b) + tpl.drop(a))
        else if (u < InsRate + DelRate) (s"${a}M${b}D${TileLen - a - b}M", tpl.take(a) + tpl.drop(a + b))
        else (s"${TileLen}M", tpl)
      cells += seq.length
      sam ++= s"t${t}_r$i\t0\tref1\t$start\t60\t$cigar\t*\t0\t0\t$seq\t${quals(seq.length)}\n"
    }
    Workloads.writeText(s"$dir/amplicons.sam", sam.toString)
    // the client's region list: random sub-regions of random tiles
    val regions = Seq.fill(Fetches) {
      val t = rnd.nextInt(Tiles)
      val beg = 1 + t * Stride + rnd.nextInt(TileLen - 50)
      Seq(beg, beg + 10 + rnd.nextInt(40))
    }
    val reads = (0 until Tiles).map(depth).sum
    Map("reads" -> reads, "tiles" -> Tiles, "hot_tile_reads" -> HotReads, "tile_len" -> TileLen,
      "stride" -> Stride, "ins_rate" -> InsRate, "del_rate" -> DelRate,
      "shards" -> cores, "fetches_per_pass" -> Fetches, "regions" -> regions,
      "records" -> reads, "cells" -> cells)
  }

  def pass(p: Pass, dir: String, facts: Map[String, Any]): Unit = {
    val bamDir = s"$dir/bam"
    val shards = facts("shards").toString.toInt
    var bam: DataFrame = null
    var st: SeqTable = null
    p.files("io.Bam.writeSharded")(
      Bam.writeSharded(Sam.read(p.spark, s"$dir/amplicons.sam"), bamDir, shards))
    p.files("io.Bai.buildAll")(Bai.buildAll(p.spark, bamDir))
    p.df("io.Bam.read") { bam = Bam.read(p.spark, bamDir); bam }
    p.df("core.SeqTable.fromSam") { st = SeqTable.fromSam(bam); st.reads }
    p.df("ops.InsertionStats.seqDist")(InsertionStats.seqDist(st.insertions))
    facts("regions").asInstanceOf[Seq[Seq[Int]]].foreach { r =>
      p.df("io.Bam.fetchSharded")(Bam.fetchSharded(p.spark, bamDir, "ref1", r(0), r(1)))
    }
  }
}

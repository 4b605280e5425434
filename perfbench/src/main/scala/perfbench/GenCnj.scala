package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.cnj.CnjSchema

/** Seeded CNJ corpus generator shaped like the reference corpus
  * (SURVEY.md §0): 90 per-court files whose sizes are skewed so the
  * largest (`teste_TJSP.csv`) holds ~12.7% of the bytes, per-file column
  * drift (subset and order), empty and junk numeric cells, a small fixed
  * share of malformed lines (one field too many or too few) and quoted
  * cells (quoted numbers; a free-text column with quoted commas and
  * doubled quotes), one header-only file and one file without the
  * identity columns.
  *
  * The same (seed, totalMB) always gives byte-identical files. Besides
  * the corpus it writes `truth.json`: the number of well-formed data rows
  * the reader must keep (rows of files with identity columns, minus
  * malformed lines) — what Consolidado's row count is checked against.
  *
  * Usage: GenCnj <outDir> <seed> <totalMB>
  */
object GenCnj {

  /** (sigla, ramo) of the 90 courts: state, labour, federal, electoral
    * and military courts plus the superior courts that exercise the
    * factor table's branch remaps. */
  val courts: Seq[(String, String)] = {
    val ufs = Seq("AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA",
      "MG", "MS", "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR",
      "RS", "SC", "SE", "SP", "TO")
    ufs.map(uf => s"TJ$uf" -> "Justiça Estadual") ++
      (1 to 24).map(i => s"TRT$i" -> "Justiça do Trabalho") ++
      (1 to 6).map(i => s"TRF$i" -> "Justiça Federal") ++
      ufs.take(26).map(uf => s"TRE-$uf" -> "Justiça Eleitoral") ++
      Seq("TJMMG", "TJMRS", "TJMSP").map(_ -> "Justiça Militar Estadual") ++
      Seq("STJ" -> "Tribunais Superiores", "TST" -> "Tribunais Superiores",
        "TSE" -> "Justiça Eleitoral", "STM" -> "Justiça Militar da União")
  }

  val LargestShare = 0.127
  val MalformedRate = 0.001
  val QuotedRate = 0.005
  val HeaderOnly = "STM"
  val NoIdentity = "TRE-RR"

  def main(args: Array[String]): Unit = {
    val out = new File(args(0))
    val seed = args(1).toLong
    val totalBytes = (args(2).toDouble * 1024 * 1024).toLong
    out.mkdirs()
    val rnd = new SplittableRandom(seed)
    require(courts.size == 90, s"expected 90 courts, got ${courts.size}")
    // size skew: TJSP takes LargestShare, the rest share the remainder by
    // log-normal weights capped below TJSP's share
    val others = courts.filterNot(c => c._1 == "TJSP" || c._1 == HeaderOnly)
    val w = others.map(_ => math.exp(0.9 * gaussian(rnd)))
    val cap = LargestShare * 0.8 / (1 - LargestShare)
    val norm = w.map(_ / w.sum).map(math.min(_, cap))
    val targets = (others.map(_._1) zip norm.map(x =>
      (x / norm.sum * (1 - LargestShare) * totalBytes).toLong)).toMap +
      ("TJSP" -> (LargestShare * totalBytes).toLong) + (HeaderOnly -> 0L)
    var wellFormed = 0L
    var malformed = 0L
    var written = 0L
    courts.foreach { case (sigla, ramo) =>
      val (rows, bad, bytes) = writeFile(out, sigla, ramo, targets(sigla), rnd.split())
      if (sigla != NoIdentity) { wellFormed += rows; malformed += bad }
      written += bytes
    }
    val truth =
      s"""{"seed":$seed,"files":${courts.size},"bytes":$written,""" +
        s""""wellformed_rows":$wellFormed,"malformed_lines":$malformed,""" +
        s""""header_only":"teste_$HeaderOnly.csv","no_identity":"teste_$NoIdentity.csv"}"""
    java.nio.file.Files.writeString(new File(out, "truth.json").toPath, truth)
    println(truth)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** One court file; returns (well-formed rows, malformed lines, bytes). */
  private def writeFile(dir: File, sigla: String, ramo: String, target: Long,
      r: SplittableRandom): (Long, Long, Long) = {
    val numeric = CnjSchema.numericCols.filter { c =>
      r.nextDouble() < (if (CnjSchema.meta1Cols.contains(c)) 0.95 else 0.7)
    }
    val keys = if (sigla == NoIdentity) Seq("tribunal", "ramo") else CnjSchema.keyCols
    val freeText = r.nextDouble() < 0.3
    val base = keys ++ numeric ++ (if (freeText) Seq("observacao") else Nil)
    // a third of the files list their columns in another order
    val cols =
      if (r.nextDouble() < 0.33) scala.util.Random.javaRandomToRandom(
        new java.util.Random(r.nextLong())).shuffle(base)
      else base
    val f = new File(dir, s"teste_$sigla.csv")
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    val header = cols.mkString(",")
    w.write(header); w.write('\n')
    var bytes = header.getBytes(StandardCharsets.UTF_8).length + 1L
    var rows = 0L
    var bad = 0L
    val sb = new java.lang.StringBuilder
    while (bytes < target) {
      sb.setLength(0)
      val quoteRow = r.nextDouble() < QuotedRate
      var lastSep = 0
      var i = 0
      while (i < cols.length) {
        if (i > 0) { lastSep = sb.length; sb.append(',') }
        cols(i) match {
          case "sigla_tribunal" | "tribunal" => sb.append(sigla)
          case "ramo_justica" | "ramo" => sb.append(ramo)
          case "observacao" =>
            val k = r.nextInt(100)
            if (k < 3) sb.append("\"revisado, conforme ata\"")
            else if (k < 5) sb.append("\"campo \"\"livre\"\"\"")
            else if (k < 40) sb.append("ok")
          case _ =>
            val k = r.nextInt(100)
            if (k < 10) () // empty cell: null
            else if (k < 12) sb.append(Junk(r.nextInt(Junk.length)))
            else {
              val v =
                if (r.nextBoolean()) Integer.toString(r.nextInt(5000))
                else s"${r.nextInt(2000)}.${r.nextInt(10)}"
              if (quoteRow && r.nextInt(4) == 0) sb.append('"').append(v).append('"')
              else sb.append(v)
            }
        }
        i += 1
      }
      if (r.nextDouble() < MalformedRate) {
        bad += 1
        if (r.nextBoolean()) sb.append(",extra")
        else sb.setLength(lastSep)
      } else rows += 1
      val line = sb.toString
      w.write(line); w.write('\n')
      bytes += line.getBytes(StandardCharsets.UTF_8).length + 1
    }
    w.close()
    (rows, bad, bytes)
  }

  private val Junk = Array("n/d", "-", "junk", "x", "s/ info")
}

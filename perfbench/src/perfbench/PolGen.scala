package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

/** One lookup row (`Game, Game_id, Pool_id, Bet, Max_win_factor`), kept
  * as the strings the CSV holds. Row order is workbook order.
  */
final case class DimRow(game: String, gameId: String, poolId: String,
    bet: String, maxWinFactor: String)

/** What one generated `.pol` file holds: parsed-win histogram (win ->
  * lines), lines written and lines a correct parser drops.
  */
final case class PolFile(rel: String, lines: Long, dropped: Long,
    bytes: Long, hist: Map[Long, Long])

/** The document a correct run emits for one file. */
final case class PoolExpect(rel: String, fileName: String, poolId: String,
    poolType: String, size: Long, totalWin: Long, hits: Long,
    minBet: Option[Double], gameIds: Seq[String],
    maxWinFactor: Option[Double], rtp: Option[Double],
    hitFrequency: Option[Double], volatility: Option[Double],
    tag: Seq[String], isFlat: Int, maxMultiplier: Option[String])

/** Seeded `.pol` corpus and game lookup.
  *
  * File `f`'s pool id is chosen so that every stage of the lookup's key
  * fallback is exercised, in any 5 consecutive files: 40 % exact ids,
  * 20 % file ids with an extra leading zero (stage 2), 20 % lookup ids
  * shorter than the file's zero-padded id (stage 3) and 20 % ids the
  * lookup lacks. Any 8 consecutive files cover every tag class: plain
  * `1xx` (REG), `395` (GAB+PFB), `5xxxx` (PFB) and `4xxxx` (flat, REG).
  * About 3 % of lines are one-column or three-column, and 0.5 % are
  * malformed, so the parser drops lines.
  */
object PolGen {
  private val typeCodes = Array("TB1", "TB2", "TB3", "TF1", "TF2")

  private def rng(seed: Long, f: Int, v: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + f * 31L + v)

  private def idClass(seed: Long, f: Int): Int = Math.floorMod(f + seed, 5L).toInt

  /** The pool id in file `f`'s name. */
  def fileId(seed: Long, f: Int): String = idClass(seed, f) match {
    case 0 | 1 => (2000 + f).toString
    case 2 => "0" + (6000 + f)
    case 3 if f < 450 => f"${10 + f / 5}%04d"
    case 3 => (2000 + f).toString
    case _ => (10000 + f).toString
  }

  /** The lookup's spelling of file `f`'s pool id; None for a miss. */
  private def dimId(seed: Long, f: Int): Option[String] = idClass(seed, f) match {
    case 0 | 1 => Some((2000 + f).toString)
    case 2 => Some((6000 + f).toString)
    case 3 if f < 450 => Some("0" + (10 + f / 5))
    case 3 => Some((2000 + f).toString)
    case _ => None
  }

  def poolType(f: Int): String = f % 8 match {
    case 4 => "395"
    case 5 => f"5${f % 9000}%04d"
    case 6 => f"4${100 + f % 2400}%04d"
    case _ => f"1${f % 40}%02d"
  }

  def fileName(seed: Long, f: Int): String =
    s"Pool_${fileId(seed, f)}_${poolType(f)}.pol"

  /** Relative path of file `f`: `folders` sub-folders under the root. */
  def rel(seed: Long, f: Int, folders: Int): String =
    s"group_${f % folders}/${fileName(seed, f)}"

  /** Lookup rows for files `0 until nFiles`, in a seeded workbook order,
    * plus rows for pools no file has. A third of the pools list two
    * games with different bets, so workbook order decides `min_bet`.
    */
  def lookup(seed: Long, nFiles: Int): Seq[DimRow] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val bets = Array("50", "80", "100", "120", "200")
    val rows = mutable.ArrayBuffer.empty[DimRow]
    def add(pool: String, games: Int, withMwf: Boolean): Unit =
      (0 until games).foreach { g =>
        rows += DimRow(s"Game ${rows.size}", s"${700000 + rows.size}", pool,
          bets(r.nextInt(bets.length)),
          if (withMwf) s"${1000 * (1 + r.nextInt(9))}" else "")
      }
    (0 until nFiles).foreach { f =>
      dimId(seed, f).foreach(id => add(id, 1 + (f % 3) / 2, r.nextInt(4) != 0))
    }
    (0 until 10).foreach(i => add(s"${90000 + i}", 1, withMwf = true))
    // Fisher-Yates with the seeded stream: workbook order is part of
    // the lookup semantics and must not follow file order
    val a = rows.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def writeLookup(path: Path, rows: Seq[DimRow]): Unit = {
    val body = rows.map(d =>
      Seq(d.game, d.gameId, d.poolId, d.bet, d.maxWinFactor).mkString(","))
    Files.write(path, ("Game,Game_id,Pool_id,Bet,Max_win_factor" +: body)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Version `v` of file `f`: its bytes and what a correct parser sees
    * in them. Wins: ~80 % zero, the rest log-uniform in [1, 3000].
    */
  def pool(seed: Long, f: Int, v: Int, lines: Int,
      folders: Int): (PolFile, Array[Byte]) = {
    val r = rng(seed, f, v)
    val sb = new java.lang.StringBuilder(lines * 8)
    val hist = mutable.HashMap.empty[Long, Long]
    var dropped = 0L
    var i = 0
    while (i < lines) {
      val win =
        if (r.nextInt(5) != 0) 0L
        else math.exp(r.nextDouble() * math.log(3000)).toLong.max(1L)
      val tc = typeCodes(r.nextInt(typeCodes.length))
      val shape = r.nextInt(1000)
      val parsed: Option[Long] =
        if (shape < 970) { sb.append(win).append(' ').append(tc); Some(win) }
        else if (shape < 980) { sb.append(win); Some(win) }
        else if (shape < 990) {
          val extra = r.nextInt(50).toLong
          sb.append(win).append(' ').append(tc).append(' ').append(extra)
          Some(win + extra)
        } else if (shape < 995) {
          sb.append(win).append(' ').append(tc).append(" bonus"); Some(win)
        } else { sb.append('x').append(win).append(' ').append(tc); None }
      sb.append('\n')
      parsed match {
        case Some(w) => hist(w) = hist.getOrElse(w, 0L) + 1
        case None => dropped += 1
      }
      i += 1
    }
    val bytes = sb.toString.getBytes(UTF_8)
    (PolFile(rel(seed, f, folders), lines, dropped, bytes.length, hist.toMap), bytes)
  }

  def write(root: Path, relPath: String, bytes: Array[Byte]): Path = {
    val p = root.resolve(relPath)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Writes version 0 of file `f` under `root`. */
  def writePool(root: Path, seed: Long, f: Int, lines: Int,
      folders: Int): PolFile = {
    val (file, bytes) = pool(seed, f, 0, lines, folders)
    write(root, file.rel, bytes)
    file
  }

  /** A file whose every line is malformed: still a size-0 document. */
  def writeUnparseable(root: Path, relPath: String, lines: Int): PolFile = {
    val bytes = ("n/a TB1\n" * lines).getBytes(UTF_8)
    write(root, relPath, bytes)
    PolFile(relPath, lines, lines, bytes.length, Map.empty)
  }
}

/** The per-pool document computed in plain Scala, independently of the
  * engine: the lookup's three-stage key fallback (first matching row in
  * workbook order gives `min_bet`) and the metrics with half-even
  * rounding, the variance terms rounded to 4 dp before an exact sum,
  * and volatility = round(1.645 * sqrt(sum), 2).
  */
object PolOracle {
  private def bround(d: Double, scale: Int): Double =
    BigDecimal(d).setScale(scale, RoundingMode.HALF_EVEN).toDouble

  private def strip0(s: String): String = {
    val t = s.dropWhile(_ == '0'); if (t.isEmpty) "0" else t
  }

  private def zfill4(s: String): String =
    if (s.length < 4) "0" * (4 - s.length) + s else s

  def resolve(poolId: String, dim: Seq[DimRow]): Seq[DimRow] =
    Iterator[DimRow => Boolean](
      _.poolId == poolId,
      _.poolId == strip0(poolId),
      d => zfill4(d.poolId) == poolId)
      .map(dim.filter).find(_.nonEmpty).getOrElse(Nil)

  def expect(file: PolFile, dim: Seq[DimRow]): PoolExpect = {
    val name = file.rel.substring(file.rel.lastIndexOf('/') + 1)
    val parts = name.replace(".pol", "").split("_")
    val (poolId, poolType) = (parts(1), parts(2))
    val rows = resolve(poolId, dim)
    val minBet = rows.headOption.map(_.bet.toDouble)
    val mwf = rows.headOption.map(_.maxWinFactor).filter(_.nonEmpty).map(_.toDouble)
    val size = file.hist.values.sum
    val totalWin = file.hist.iterator.map { case (w, c) => w * c }.sum
    val hits = file.hist.iterator.collect { case (w, c) if w > 0 => c }.sum
    val bet = minBet.filter(_ > 0 && size > 0)
    val rtp = bet.map(b => bround(totalWin.toDouble / (size.toDouble * b) * 100, 2))
    val hitFreq = bet.map(_ => bround(hits.toDouble / size.toDouble * 100, 2))
    val vol = for (b <- bet; r <- rtp) yield {
      val sum = file.hist.iterator.map { case (w, c) =>
        BigDecimal(bround(c.toDouble / size.toDouble *
          StrictMath.pow(w.toDouble / b - r / 100, 2), 4))
      }.sum
      bround(1.645 * math.sqrt(sum.toDouble), 2)
    }
    val long4 = poolType.length > 4
    val tag =
      if (poolType == "395") Seq("GAB", "PFB")
      else if (long4 && poolType.startsWith("5")) Seq("PFB")
      else Seq("REG")
    val flat = long4 && poolType.startsWith("4")
    PoolExpect(file.rel, name, poolId, poolType, size, totalWin, hits,
      minBet, rows.map(_.gameId), mwf, rtp, hitFreq, vol, tag,
      if (flat) 1 else 0, if (flat) Some(poolType.takeRight(4)) else None)
  }
}

package graft.pol

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.math.BigDecimal.RoundingMode
import scala.sys.process._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark

/** The CLI job end to end, with no outside data: PolMain's full,
  * `--ledger` and `--git-diff` modes over the hand-written corpus in
  * `src/test/resources/pol_job`. Every document and the run summary
  * are compared, field by field and in order, with [[PolJobOracle]], a
  * plain-Scala version of the formulas. Two fixtures pin rounding
  * traps: `grp_a/Pool_0101_100.pol`'s volatility comes out 0.01 higher
  * if the variance terms are summed unrounded or computed from the
  * unrounded rtp, and `grp_b/Pool_0104_41000.pol`'s 1-in-32 hit
  * frequency is a tie (3.125) that half-even rounds to 3.12.
  */
class PolJobSpec extends AnyFunSuite {
  import PolJobOracle._

  private val corpus = Paths.get("src/test/resources/pol_job")
  private val lookup = "src/test/resources/lookup/pol_job_lookup.csv"
  private val dim = PolJobOracle.lookup(Paths.get(lookup))

  /** (relative path, text) of every `.pol` under `root`. */
  private def files(root: Path): Seq[(String, String)] =
    Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".pol"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toSeq.sortBy(_._1)

  private def pools(root: Path): Map[String, Pool] =
    files(root).map { case (rel, text) => rel -> pool(rel, text, dim) }.toMap

  private def copyCorpus(to: Path, mtime: FileTime): Unit =
    files(corpus).foreach { case (rel, text) => put(to, rel, text, mtime) }

  private def put(root: Path, rel: String, text: String, mtime: FileTime): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p, mtime)
  }

  /** The documents file, as written, and as the oracle expects it with
    * its keys in `order`.
    */
  private def assertDocs(out: Path, order: Seq[String], expected: Map[String, Pool]): Unit =
    assert(unstamped(read(out.resolve("all_pools_data.json"))) ==
      O(order.map(k => k -> expected(k).json)))

  /** The summary, index and CSV of one run over `processed`. */
  private def assertRunOutputs(out: Path, processed: Seq[Pool]): Unit = {
    assert(unstamped(read(out.resolve("_pipeline_summary.json"))) == summary(processed))
    val index = unstamped(read(out.resolve("_index.json")))
    assert(index == O(Seq(
      "generated_at" -> S(Stamp),
      "total_files" -> I(processed.size.toLong),
      "files" -> A(processed.sortBy(_.rel).map(p => O(Seq(
        "source_file" -> S(p.rel), "pool_name" -> S(p.name), "size" -> I(p.size))))))))
    val csv = spark.read.option("header", "true")
      .csv(out.resolve("summary_csv").toString)
      .select("source_file", "size").collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toSeq
    assert(csv == processed.sortBy(_.rel).map(p => p.rel -> p.size))
  }

  test("the fixture corpus covers the parse, lookup and tag branches") {
    val text = files(corpus).map(_._2).mkString("\n")
    val cols = text.split("\n").map(_.trim.split("\\s+").length).toSet
    assert(Set(1, 2, 3, 4).subsetOf(cols), "one- to four-token lines")
    assert(text.split("\n").exists(l => l.nonEmpty && wins(l).isEmpty), "a malformed line")
    val ps = pools(corpus).values.toSeq
    assert(ps.exists(p => p.size == 0 && p.minBet.nonEmpty), "a 0-byte file")
    assert(ps.exists(p => p.size > 0 && p.minBet.isEmpty), "a lookup miss")
    assert(ps.exists(_.rtp.nonEmpty), "a lookup hit")
    assert(ps.exists(p => p.hit.contains(0.0)), "a pool with no winning line")
    assert(ps.exists(_.gameIds.size > 1), "a pool id with two games")
    assert(ps.exists(_.mwf.nonEmpty), "a max_win_factor passthrough")
    Seq(Seq("REG"), Seq("GAB", "PFB"), Seq("PFB"), Seq("UNKNOWN"))
      .foreach(t => assert(ps.exists(_.tags == t), s"tag $t"))
    assert(ps.exists(p => p.flat && p.maxMult.nonEmpty), "a flat pool")
  }

  test("full mode: every file, every output") {
    val out = Files.createTempDirectory("poljob_full")
    assert(PolMain.run(spark, Seq(corpus.toString, lookup, out.toString)) == 9)
    val expected = pools(corpus)
    assertDocs(out, expected.keys.toSeq.sorted, expected)
    assertRunOutputs(out, expected.values.toSeq)
  }

  test("--ledger mode: new, unchanged and modified files") {
    val dir = Files.createTempDirectory("poljob_ledger")
    val root = dir.resolve("pools")
    val out = dir.resolve("out")
    val t0 = FileTime.fromMillis(1700000000000L)
    val t1 = FileTime.fromMillis(1700000060000L)
    copyCorpus(root, t0)
    val args = Seq(root.toString, lookup, out.toString,
      "--ledger", dir.resolve("ledger").toString)

    // run 1: every file is new
    assert(PolMain.run(spark, args) == 9)
    val first = pools(root)
    val order = first.keys.toSeq.sorted
    assertDocs(out, order, first)
    assertRunOutputs(out, first.values.toSeq)

    // run 2: nothing changed, so no output is rewritten
    def snapshot = Files.walk(out).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => out.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    val before = snapshot
    assert(PolMain.run(spark, args) == 0)
    assert(snapshot == before)

    // run 3: one file modified in place and one new file; only those two
    // are scanned and rewritten
    val modified = "grp_b/Pool_0103_50012.pol"
    val added = "grp_c/Pool_0102_40250.pol"
    put(root, modified, files(root).toMap.apply(modified) + "9 TB1\n", t1)
    put(root, added, "250 FL1\n0 FL1\n0 FL1\n30 FL1 -10\n", t1)
    val (n, scanned) = polScans(root)(PolMain.run(spark, args))
    assert(n == 2)
    assert(scanned.nonEmpty && scanned.forall(_ == 2), s"numFiles per scan: $scanned")
    val third = pools(root)
    assertDocs(out, order :+ added, third)
    def spans(text: String) = PoolJsonSink.splitTopLevel(text).toMap
    val was = spans(new String(before("all_pools_data.json").toArray, StandardCharsets.UTF_8))
    val now = spans(Files.readString(out.resolve("all_pools_data.json")))
    (order.toSet - modified).foreach(k => assert(now(k) == was(k), s"$k was rewritten"))
    assertRunOutputs(out, Seq(third(modified), third(added)))
  }

  test("--git-diff mode: the last commit's .pol files; an empty diff means every file") {
    val repo = Files.createTempDirectory("poljob_git")
    val root = repo.resolve("samples/pools2")
    val out = Files.createTempDirectory("poljob_git_out")
    def git(cmd: String*): Unit =
      assert(Process("git" +: cmd, repo.toFile).!(ProcessLogger(_ => ())) == 0, cmd)
    git("init", "-q", "-b", "main")
    git("config", "user.email", "spec@example.com")
    git("config", "user.name", "spec")
    copyCorpus(root, FileTime.fromMillis(1700000000000L))
    git("add", "-A"); git("commit", "-q", "-m", "base")
    val now = FileTime.fromMillis(System.currentTimeMillis())
    val modified = "grp_a/Pool_0101_100.pol"
    val added = "grp_c/Pool_0102_40250.pol"
    put(root, modified, "10 TB1\n0 TB1\n", now)
    put(root, added, "250 FL1\n0 FL1\n", now)
    git("add", "-A"); git("commit", "-q", "-m", "push")
    val args = Seq(root.toString, lookup, out.toString, "--git-diff", repo.toString)

    assert(PolMain.run(spark, args) == 2)
    val expected = pools(root)
    assertDocs(out, Seq(modified, added), expected)
    assertRunOutputs(out, Seq(expected(modified), expected(added)))

    Files.writeString(repo.resolve("README.md"), "docs only\n")
    git("add", "-A"); git("commit", "-q", "-m", "docs")
    assert(PolMain.run(spark, args) == 10)
    assertDocs(out, Seq(modified, added) ++
      expected.keys.toSeq.sorted.filterNot(Set(modified, added)), expected)
    assertRunOutputs(out, expected.values.toSeq)
  }

  test("paths with a space, '%' or '+' keep their documents in every mode") {
    val repo = Files.createTempDirectory("poljob_paths")
    val root = repo.resolve("pools")
    val text = files(corpus).toMap
    val t0 = FileTime.fromMillis(1700000000000L)
    // the non-ASCII name needs the UTF-8 locale build.sbt gives the test JVM
    val odd = Seq(
      "group 1/Pool_0101_100%x.pol" -> text("grp_a/Pool_0101_100.pol"),
      "100% b/Pool_0102_395.pol" -> text("grp_a/Pool_0102_395.pol"),
      "a+b/Pool_0104_41000.pol" -> text("grp_b/Pool_0104_41000.pol"),
      "gré/Pool_0103_50012.pol" -> text("grp_b/Pool_0103_50012.pol"))
    odd.foreach { case (rel, t) => put(root, rel, t, t0) }
    def git(cmd: String*): Unit =
      assert(Process("git" +: cmd, repo.toFile).!(ProcessLogger(_ => ())) == 0, cmd)
    git("init", "-q", "-b", "main")
    git("config", "user.email", "spec@example.com")
    git("config", "user.name", "spec")
    git("add", "-A"); git("commit", "-q", "-m", "base")
    val rels = odd.map(_._1).sorted

    val full = Files.createTempDirectory("poljob_paths_full")
    assert(PolMain.run(spark, Seq(root.toString, lookup, full.toString)) == 4)
    val first = pools(root)
    assert(first.values.forall(_.size > 0))
    assertDocs(full, rels, first)
    assertRunOutputs(full, first.values.toSeq)

    val out = repo.resolve("out")
    val ledger = Seq(root.toString, lookup, out.toString,
      "--ledger", repo.resolve("ledger").toString)
    assert(PolMain.run(spark, ledger) == 4)
    val modified = "group 1/Pool_0101_100%x.pol"
    put(root, modified, text("grp_a/Pool_0101_100.pol") + "9 TB1\n",
      FileTime.fromMillis(1700000060000L))
    assert(PolMain.run(spark, ledger) == 1)
    val second = pools(root)
    assertDocs(out, rels, second)
    assertRunOutputs(out, Seq(second(modified)))

    git("add", "-A"); git("commit", "-q", "-m", "push")
    val diffOut = Files.createTempDirectory("poljob_paths_git")
    assert(PolMain.run(spark,
      Seq(root.toString, lookup, diffOut.toString, "--git-diff", repo.toString)) == 1)
    assertDocs(diffOut, Seq(modified), second)
    assertRunOutputs(diffOut, Seq(second(modified)))
  }

  test("pathMeta decodes a scan's URI path once, '+' and non-ASCII included") {
    import spark.implicits._
    val df = Seq("file:/data/pools/group%201/Pool_1_100%25x.pol",
        "file:///data/pools/a+b/gr%C3%A9/Pool_2.pol", "file:/data/pools/日本/Pool_3.pol",
        "/data/pools/100%25 b/Pool_4.pol")
      .toDF("abs_path")
    val got = PolParser.pathMeta(df, "/data/pools")
      .select("relative_path", "folder_path", "parent_folder").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("group 1/Pool_1_100%x.pol", "group 1", "group 1"),
      ("a+b/gré/Pool_2.pol", "a+b/gré", "gré"),
      ("日本/Pool_3.pol", "日本", "日本"),
      // a listed (already decoded) path is left as it is
      ("100%25 b/Pool_4.pol", "100%25 b", "100%25 b")))
  }

  test("PolMain requires <pol-root> and one mode at most") {
    Seq(Nil, Seq("--ledger", "l"), Seq(corpus.toString, "--incremental", "c"),
        Seq(corpus.toString, "--ledger", "l", "--git-diff", "r"),
        Seq(corpus.toString, "--ledger"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](PolMain.run(spark, args))
        assert(e.getMessage == PolMain.Usage, args)
      }
  }

  /** `body`'s result, and numFiles of every distinct scan of files under
    * `root` that the queries it ran made.
    */
  private def polScans[T](root: Path)(body: => T): (T, Seq[Long]) = {
    val under = root.toAbsolutePath.toString
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(under)))
          Seq(s)
        else Nil
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    val seen = java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        scans(qe.executedPlan).foreach(seen.put(_, true))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    (result, seen.keySet.asScala.toSeq.map(_.metrics("numFiles").value))
  }
}

/** SURVEY's formulas in plain Scala, with no Spark: the P1 line parse,
  * the three-stage lookup (J1), the metrics with half-even rounding
  * (A3–A6: each variance term rounded to 4 dp before summing, then
  * 1.645·√), the P3 classification and the A7 summary; plus the JSON
  * the sinks render them as, in field order.
  */
object PolJobOracle {

  /** A JSON value, with its object keys in order and integers and
    * floats told apart.
    */
  sealed trait V
  final case class O(fields: Seq[(String, V)]) extends V
  final case class A(items: Seq[V]) extends V
  final case class S(s: String) extends V
  final case class I(v: Long) extends V
  final case class F(v: Double) extends V
  case object N extends V

  def read(p: Path): V = value(new ObjectMapper().readTree(p.toFile))

  private def value(n: JsonNode): V =
    if (n.isObject) O(n.fieldNames().asScala.map(k => k -> value(n.get(k))).toSeq)
    else if (n.isArray) A(n.elements().asScala.map(value).toSeq)
    else if (n.isTextual) S(n.asText)
    else if (n.isIntegralNumber) I(n.asLong)
    else if (n.isNumber) F(n.asDouble)
    else if (n.isNull) N
    else sys.error(s"unexpected JSON value $n")

  /** Stands for any run timestamp. */
  val Stamp = "<timestamp>"
  private val Timestamp = """\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d(Z|[+-]\d\d:\d\d)""".r

  /** `v` with every well-formed run timestamp replaced by [[Stamp]]. */
  def unstamped(v: V): V = v match {
    case O(fs) => O(fs.map {
      case (k @ ("processed_at" | "timestamp" | "generated_at"), S(Timestamp(_))) =>
        k -> S(Stamp)
      case (k, x) => k -> unstamped(x)
    })
    case A(xs) => A(xs.map(unstamped))
    case x => x
  }

  final case class DimRow(poolId: String, gameId: String, bet: Double,
      mwf: Option[Double])

  /** The lookup CSV: Game, Game_id, Pool_id, Bet [, Max_win_factor]. */
  def lookup(csv: Path): Seq[DimRow] =
    Files.readAllLines(csv).asScala.drop(1).map { l =>
      val c = l.split(",", -1)
      DimRow(c(2), c(1), c(3).toDouble, c.lift(4).filter(_.nonEmpty).map(_.toDouble))
    }.toSeq

  private def bround(d: Double, scale: Int): Double =
    BigDecimal(d).setScale(scale, RoundingMode.HALF_EVEN).toDouble

  /** P1: Python's `line.split()`; a line counts when its first token is
    * an integer, and an integer third token is added to it.
    */
  def wins(text: String): Seq[Long] =
    text.split("\n").toSeq.flatMap { line =>
      val t = line.split("[ \t\u000b\f\r]+").filter(_.nonEmpty)
      def int(i: Int) = t.lift(i).filter(_.matches("[+-]?[0-9]+")).map(_.toLong)
      int(0).map(_ + int(2).getOrElse(0L))
    }

  /** J1: the exact id, else the file id without leading zeros, else the
    * lookup id zero-padded to 4; every matching row, in lookup order.
    */
  def resolve(poolId: String, dim: Seq[DimRow]): Seq[DimRow] = {
    val stripped = poolId.dropWhile(_ == '0') match { case "" => "0"; case s => s }
    def pad(s: String) = if (s.length < 4) "0" * (4 - s.length) + s else s
    Seq[DimRow => Boolean](_.poolId == poolId, _.poolId == stripped,
        d => pad(d.poolId) == poolId)
      .map(dim.filter).find(_.nonEmpty).getOrElse(Nil)
  }

  final case class Pool(rel: String, name: String, folder: String,
      poolId: Option[String], poolType: Option[String], gameIds: Seq[String],
      minBet: Option[Double], mwf: Option[Double], rtp: Option[Double],
      vol: Option[Double], hit: Option[Double], size: Long, tags: Seq[String],
      flat: Boolean, maxMult: Option[String]) {

    /** The document as `all_pools_data.json` holds it. */
    def json: V = {
      def d(x: Option[Double]) = x.fold[V](N)(F)
      def s(x: Option[String]) = x.fold[V](N)(S)
      O(Seq(
        "pool_name" -> S(name),
        "pool_id" -> s(poolId),
        "pool_type" -> s(poolType),
        "game_ids" -> A(gameIds.map(S)),
        "min_bet" -> d(minBet)) ++
        mwf.map(v => "max_win_factor" -> F(v)) ++ Seq(
        "rtp" -> d(rtp),
        "volatility" -> d(vol),
        "is_flat" -> I(if (flat) 1 else 0),
        "tag" -> (if (poolType.isEmpty) S("UNKNOWN") else A(tags.map(S))),
        "size" -> I(size),
        "max_multiplier" -> s(maxMult),
        "metadata" -> O(Seq(
          "source_file" -> S(rel),
          "file_name" -> S(name),
          "folder_path" -> S(folder),
          "processed_at" -> S(Stamp),
          "hit_frequency" -> d(hit)))))
    }
  }

  /** (rtp, volatility, hit frequency) of a pool's wins `ws` at bet
    * `minBet`; all None without a positive bet or without a line.
    */
  def metrics(ws: Seq[Long], minBet: Option[Double])
      : (Option[Double], Option[Double], Option[Double]) = {
    val n = ws.size
    val bet = minBet.filter(b => b > 0 && n > 0)
    val rtp = bet.map(b => bround(ws.sum.toDouble / (n * b) * 100, 2))
    val hit = bet.map(_ => bround(ws.count(_ > 0).toDouble / n * 100, 2))
    val vol = for (b <- bet; r <- rtp) yield {
      val terms = ws.groupBy(identity).toSeq.map { case (w, c) =>
        BigDecimal(bround(c.size.toDouble / n * StrictMath.pow(w / b - r / 100, 2), 4))
      }
      bround(1.645 * math.sqrt(terms.sum.toDouble), 2)
    }
    (rtp, vol, hit)
  }

  def pool(rel: String, text: String, dim: Seq[DimRow]): Pool = {
    val name = rel.split('/').last
    val parts = name.replace(".pol", "").split("_")
    val (poolId, poolType) = (parts.lift(1), parts.lift(2))
    val ws = wins(text)
    val rows = poolId.fold(Seq.empty[DimRow])(resolve(_, dim))
    val (rtp, vol, hit) = metrics(ws, rows.headOption.map(_.bet))
    val long = poolType.exists(_.length > 4)
    val flat = long && poolType.exists(_.startsWith("4"))
    val tags = poolType match {
      case None => Seq("UNKNOWN")
      case Some("395") => Seq("GAB", "PFB")
      case Some(t) if long && t.startsWith("5") => Seq("PFB")
      case _ => Seq("REG")
    }
    Pool(rel, name, rel.split('/').init.mkString("/"), poolId, poolType,
      rows.map(_.gameId), rows.headOption.map(_.bet), rows.headOption.flatMap(_.mwf),
      rtp, vol, hit, ws.size.toLong, tags, flat, if (flat) poolType.map(_.takeRight(4)) else None)
  }

  /** `_pipeline_summary.json` for one run over `pools`. */
  def summary(pools: Seq[Pool]): V = {
    val n = pools.size.toLong
    val tags = pools.sortBy(_.rel).flatMap(_.tags)
    def stats(name: String, xs: Seq[Double]) =
      if (xs.isEmpty) Nil
      else Seq(s"${name}_stats" -> O(Seq("min" -> F(xs.min), "max" -> F(xs.max),
        "avg" -> F(bround(xs.sum / xs.size, 2)))))
    O(Seq(
      "timestamp" -> S(Stamp),
      "total_files_processed" -> I(n),
      "successful_transforms" -> I(n),
      "failed_transforms" -> I(0),
      "errors" -> A(Nil),
      "output_files" -> A(Seq(S("Meta_data/all_pools_data.json"))),
      "aggregated" -> O(Seq(
        "total_files_processed" -> I(n),
        "total_records_across_all_files" -> I(pools.map(_.size).sum),
        "tags_distribution" -> O(tags.distinct.map(t => t -> I(tags.count(_ == t).toLong))),
        "files_by_folder" -> O(Seq("root" -> I(n))),
        "generated_at" -> S(Stamp)) ++
        stats("rtp", pools.flatMap(_.rtp)) ++
        stats("volatility", pools.flatMap(_.vol)))))
  }
}

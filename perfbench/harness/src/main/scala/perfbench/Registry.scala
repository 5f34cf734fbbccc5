package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row}

/** `registry`: a fixed list of `SparkEntry.queries` rows over the
  * generated sf0.1 tables. Each row's result is checked against its
  * committed fingerprint (row count and an order-insensitive content
  * hash); then timed passes build each row and write it with `noop`, as
  * `graft.Bench` does.
  */
object Registry {
  val Stagings = 3
  val WarmPasses = 2

  final case class Entry(name: String, rows: Long, hash: String)

  private val mapper = new ObjectMapper()

  def load(ctx: Ctx): Seq[Entry] = {
    val root = mapper.readTree(Files.readAllBytes(ctx.registry))
    val rows = root.path("rows")
    (0 until rows.size).map { i =>
      val r = rows.get(i)
      Entry(r.path("name").asText(), r.path("rows").asLong(-1), r.path("hash").asText(""))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val entries = load(ctx)
    val dir = ctx.data.toString
    def build(e: Entry): DataFrame = SparkEntry.queries(e.name)(ctx.spark, dir)

    // set up several times: open every generated table through `Tables`
    // (schema inference); the check pass below then warms every row
    val tables = graft.Tables.names.filter(t => Files.exists(ctx.data.resolve(s"$t.parquet")))
    val stagings = (0 until Stagings).map(_ => Time.timed(tables.foreach { t =>
      val _ = graft.Tables.load(ctx.spark, dir, t).schema
    })._2)
    val (fingerprints, checkS) = Time.timed(entries.map { e =>
      val fp = try Right(fingerprint(build(e).collect()))
               catch { case t: Throwable => Left(t.toString.take(300)) }
      val _ = ctx.checks(fp == Right((e.rows, e.hash)) || ctx.record,
        s"${e.name}: want ${e.rows} rows / ${e.hash}, got $fp")
      e.name -> fp
    })
    if (ctx.record) writeRegistry(ctx, fingerprints)

    // whole passes over the rows in registry order, at least `minPasses`
    // and until `seconds` have passed; a row's wall is its median. A pass
    // is never cut short: a throughput over a partial pass would depend
    // on which rows happened to fit before the deadline.
    def passes(traced: Boolean, seconds: Double, minPasses: Int = 1): (Phase, Seq[(Double, Long)]) = {
      val walls = Array.fill(entries.size)(Seq.newBuilder[Double])
      val builds = Seq.newBuilder[(Double, Long)]
      val phase = Phase.measure {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        var n = 0
        var p0 = System.nanoTime()
        while (n < minPasses * entries.size || n % entries.size != 0 ||
               System.nanoTime() < deadline) {
          val i = n % entries.size
          val e = entries(i)
          val s0 = System.nanoTime()
          try {
            val df =
              if (!traced) build(e)
              else {
                val j0 = ctx.probe.counts()("jobs")
                val (df, s) = Time.timed(ctx.span("entry.build", i)(build(e)))
                builds += ((s * 1000, ctx.probe.counts()("jobs") - j0))
                df
              }
            ctx.span("exec.noop_write", i)(df.write.format("noop").mode("overwrite").save())
          } catch { case t: Exception => val _ = ctx.checks(false, s"${e.name}: $t") }
          walls(i) += Time.msSince(s0)
          n += 1
          if (n % entries.size == 0) {
            System.err.println(f"[perfbench] pass ${n / entries.size}: ${Time.secondsSince(p0)}%.2f s")
            p0 = System.nanoTime()
          }
        }
        (walls.map(w => Stats.median(w.result())).toSeq, n)
      }
      (phase, builds.result())
    }

    // the checked pass runs each row once, far from a steady JIT on this
    // many distinct plans: warm every row with untimed noop passes too
    val (_, warmS) = Time.timed(passes(traced = false, 0.0, WarmPasses))
    val setupS = ctx.sessionS + Stats.median(stagings) + checkS + warmS
    Setup.log(ctx, stagings, checkS + warmS)

    val (a, _) = passes(traced = false, ctx.seconds, 2)
    if (ctx.record) entries.zip(a.latMs).foreach { case (e, ms) =>
      System.err.println(f"[perfbench] wall ${e.name} $ms%.1f ms") }
    if (!ctx.probe.traced) Outcome(a.e2e(setupS), Map.empty, a.latMs)
    else {
      ctx.probe.traceOn()
      val c0 = ctx.probe.counts()
      val (b, builds) = passes(traced = true, ctx.seconds, 2)
      val c1 = ctx.probe.counts()
      val layers = SparkLayers(ctx.probe.diff(c0, c1), b.ops) ++ a.tail ++ Map(
        "entry.build_ms" -> Stats.mean(builds.map(_._1)),
        "entry.build_jobs" -> Stats.mean(builds.map(_._2.toDouble)),
        "trace.overhead_pct" -> 100.0 * (b.p50 - a.p50) / a.p50)
      Outcome(a.e2e(setupS), layers, a.latMs)
    }
  }

  /** Row count and an order-insensitive content hash: the sum of each
    * row's MD5 over a canonical rendering. Floating values are rendered
    * to 6 significant digits, so summation order cannot flip the hash;
    * array elements are compared as multisets.
    */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val d = MessageDigest.getInstance("MD5").digest(canon(r).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new MathContext(6)).stripTrailingZeros.toPlainString

  /** Record mode: rewrite the registry file with the fingerprints just
    * taken. Rows that failed are dropped with a note on stderr.
    */
  private def writeRegistry(ctx: Ctx, fps: Seq[(String, Either[String, (Long, String)])]): Unit = {
    val root = mapper.readTree(Files.readAllBytes(ctx.registry)).asInstanceOf[ObjectNode]
    val rows = root.putArray("rows")
    fps.foreach {
      case (name, Right((n, h))) =>
        val r = rows.addObject(); r.put("name", name); r.put("rows", n); r.put("hash", h)
      case (name, Left(err)) => System.err.println(s"[perfbench] dropped $name: $err")
    }
    Files.write(ctx.registry, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(UTF_8))
    ()
  }
}

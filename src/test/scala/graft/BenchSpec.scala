package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** [[Bench.measure]] attributes to a row exactly the work its body
  * started: jobs, stages and shuffle bytes from the [[Ledger]], and the
  * janino classes it compiled.
  */
class BenchSpec extends SparkSpec {

  private def withLedger[T](f: Ledger => T): T = {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    spark.listenerManager.register(ledger)
    try f(ledger)
    finally {
      spark.sparkContext.removeSparkListener(ledger)
      spark.listenerManager.unregister(ledger)
    }
  }

  test("a groupBy row carries its jobs, its stage list and its shuffle bytes") {
    withLedger { ledger =>
      val row = Bench.measure(spark, ledger, "group_by", 1) {
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()
      }
      val c = row.counts
      assert(row.ok)
      assert(c.jobs >= 1, s"jobs: ${c.jobs}")
      assert(c.stages.size >= 2, s"stages: ${c.stages}")
      assert(row.json.contains(s""""n_stages":${c.stages.size},"""))
      assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0, s"shuffle: $c")
      assert(row.execMs > 0, s"exec_ms: ${row.execMs}")
    }
  }

  test("the first build of a fresh expression shape compiles, rep 2 compiles nothing") {
    withLedger { ledger =>
      // constants no other spec uses, so the generated class is new
      def build() = spark.range(0, 1000).select((col("id") * 7919L + 104723L).as("v"))
      val rep1 = Bench.measure(spark, ledger, "fresh_shape", 1)(build())
      val rep2 = Bench.measure(spark, ledger, "fresh_shape", 2)(build())
      assert(rep1.ok && rep2.ok)
      assert(rep1.janinoN > 0, s"rep1 janino_n: ${rep1.janinoN}")
      assert(rep2.janinoN == 0, s"rep2 janino_n: ${rep2.janinoN}")
      assert(rep2.json.contains(""""rep":2,"""))
    }
  }

  test("a throwing body is a failed row, and the row is still written") {
    withLedger { ledger =>
      val row = Bench.measure(spark, ledger, "throws", 1) {
        throw new IllegalStateException("builder failed")
      }
      assert(!row.ok)
      val path = Files.createTempFile("bench_rows", ".jsonl")
      val rows = new JsonLines(path)
      rows.emit(row.json)
      rows.close()
      val lines = Files.readAllLines(path)
      Files.delete(path)
      assert(lines.size == 1)
      assert(lines.get(0).startsWith("""{"q":"throws","rep":1,"""))
      assert(lines.get(0).contains(""""ok":false,"""))
    }
  }

  test("a job run before measure is not counted in the row") {
    withLedger { ledger =>
      val _ = spark.range(0, 100, 1, 4).collect()
      val row = Bench.measure(spark, ledger, "one_job", 1)(spark.range(0, 10, 1, 1).toDF())
      assert(row.counts.jobs == 1, s"jobs: ${row.counts.jobs}")
      assert(row.counts.stages.size == 1, s"stages: ${row.counts.stages}")
    }
  }
}

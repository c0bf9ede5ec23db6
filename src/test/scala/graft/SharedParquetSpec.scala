package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions.col

import graft.sources.{ReaderMemo, SharedParquetFileFormat}

/** Parquet readers (and the configuration broadcast each captures) are
  * built once per distinct scan and configuration, and a reused reader
  * answers exactly what a fresh one would. */
class SharedParquetSpec extends GraftSuite {

  private lazy val dir = Files.createTempDirectory("graft-shared-parquet").toString

  private lazy val table = {
    val p = s"$dir/t"
    spark.range(0, 200).select(col("id"), (col("id") % 7).as("grp"))
      .write.mode("overwrite").parquet(p)
    p
  }

  private def builds: Long = SharedParquetFileFormat.builds.get

  /** Readers built while `f` runs, and its result. */
  private def counting[A](f: => A): (Long, A) = {
    val b0 = builds
    val a = f
    (builds - b0, a)
  }

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).toSeq.sorted

  test("the same SELECT twice builds one reader") {
    spark.read.parquet(table).createOrReplaceTempView("shared_pq_t")
    val (first, a) = counting(rows("SELECT * FROM shared_pq_t"))
    val (second, b) = counting(rows("SELECT * FROM shared_pq_t"))
    assert(first == 1 && second == 0, s"builds: $first then $second")
    assert(a == b && a.size == 200)
  }

  test("a different projection or pushed filter builds another reader") {
    spark.read.parquet(table).createOrReplaceTempView("shared_pq_t")
    rows("SELECT * FROM shared_pq_t")
    val (proj, p) = counting(rows("SELECT grp FROM shared_pq_t"))
    val (filt, f) = counting(rows("SELECT * FROM shared_pq_t WHERE id > 190"))
    assert(proj == 1 && filt == 1, s"builds: projection $proj, filter $filt")
    val (again, _) = counting {
      rows("SELECT grp FROM shared_pq_t"); rows("SELECT * FROM shared_pq_t WHERE id > 190")
    }
    assert(again == 0, s"repeated scans built $again readers")
    assert(p.size == 200 && f == (191 until 200).map(i => s"[$i,${i % 7}]").sorted)
  }

  test("a SET in the relation's session builds a new reader with the same rows") {
    val s = spark.newSession()
    def read() = s.read.parquet(table).collect().map(_.toString).toSeq.sorted
    val (vectorized, a) = counting { read(); read() }
    s.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val (rowBased, b) = counting { read(); read() }
    assert(vectorized == 1 && rowBased == 1, s"builds: $vectorized then $rowBased")
    assert(a == b && a.size == 200)
  }

  test("files rewritten under a path show their new rows") {
    val p = s"$dir/rewritten"
    spark.range(0, 10).write.mode("overwrite").parquet(p)
    assert(spark.read.parquet(p).collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    spark.range(100, 105).write.mode("overwrite").parquet(p)
    val (n, back) = counting(spark.read.parquet(p).collect().map(_.getLong(0)).sorted.toSeq)
    assert(back == (100L until 105L))
    assert(n == 0, "the rewritten files were read through the reader already built")
  }

  test("the memo never holds more than its bound") {
    spark.read.parquet(table).createOrReplaceTempView("shared_pq_t")
    val extra = 6
    val (n, _) = counting((0 until SharedParquetFileFormat.MaxReaders + extra).foreach { i =>
      assert(rows(s"SELECT id FROM shared_pq_t WHERE id >= $i").size == 200 - i)
    })
    assert(n == SharedParquetFileFormat.MaxReaders + extra)
    assert(SharedParquetFileFormat.readers.size == SharedParquetFileFormat.MaxReaders)
  }

  test("ReaderMemo: LRU bound, and a new owner never sees the old owner's values") {
    val m = new ReaderMemo[String, String](2)
    val ctxA, ctxB = new Object
    assert(m(ctxA, "k")("a1") == "a1")
    assert(m(ctxA, "k")(fail("rebuilt a held value")) == "a1")
    assert(m(ctxB, "k")("b1") == "b1", "a value built under another owner was returned")
    assert(m.size == 1)
    assert(m(ctxA, "k")("a2") == "a2")
    m(ctxA, "x")("x"); m(ctxA, "k")("unused"); m(ctxA, "y")("y")
    // "x" was least recently used
    assert(m.size == 2 && m(ctxA, "x")("x2") == "x2")
  }

  test("ReaderMemo: no lock is held while a value is built") {
    val m = new ReaderMemo[String, String](4)
    val ctx = new Object
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      m(ctx, "slow") { building.countDown(); release.await(); "slow" }
    })
    slow.start()
    try {
      assert(building.await(10, TimeUnit.SECONDS))
      // another key is built and read while "slow" is still building
      assert(m(ctx, "fast")("fast") == "fast" && m.size == 1)
    } finally release.countDown()
    slow.join(10000)
    assert(m(ctx, "slow")(fail("slow was not kept")) == "slow" && m.size == 2)
  }
}

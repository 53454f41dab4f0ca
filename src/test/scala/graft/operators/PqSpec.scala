package graft.operators

import graft.SparkFunSuite
import graft.core.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class PqSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("train/encode: m·k codebooks, one code per (vector, block), deterministic") {
    val books = Pq.train(t.embeddings, "vec_id", "embedding", dim = 64, m = 4, k = 8)
    val rows = books.collect()
    assert(rows.length == 32)
    assert(rows.head.getSeq[Double](2).length == 16, "sub-vector width 64/4")
    val codes = Pq.encode(t.embeddings, "vec_id", "embedding", 64, 4, books)
    val n = t.embeddings.count()
    assert(codes.count() == 4 * n)
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= 4).count() == 0)
    // deterministic end to end
    val books2 = Pq.train(t.embeddings, "vec_id", "embedding", dim = 64, m = 4, k = 8)
    assert(books.orderBy("block", "cell_id").collect().map(_.toSeq).toSeq ==
      books2.orderBy("block", "cell_id").collect().map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      Pq.train(t.embeddings, "vec_id", "embedding", dim = 64, m = 5)
    }
  }

  test("topK: whole-corpus shortlist equals brute force; self at rank 1") {
    val q = t.embeddings.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val pq = Pq.topK(t.embeddings, "vec_id", "embedding", q, k = 5,
        dim = 64, m = 4, shortlistFactor = 1000000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(t.embeddings, "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == exact)
  }

  test("topK: planted copies surface at rank 1 even with a TIGHT shortlist") {
    // copies share every code with their original, so their ADC distance
    // equals the original's — the shortlist cannot miss them
    val copies = t.embeddings.filter($"vec_id" < 4)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
        lit(0).as("label"))
    val corpus = t.embeddings.select("vec_id", "embedding", "label")
      .unionByName(copies)
    val q = copies.select(($"vec_id" - 1000000L).as("query_id"),
      $"embedding".as("query_vec"))
    val got = Pq.topK(corpus, "vec_id", "embedding", q, k = 2,
        dim = 64, m = 4, shortlistFactor = 2)
      .filter($"rank" <= 2).collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(2)).toSet }
    got.foreach { case (qid, ids) =>
      assert(ids == Set(qid, qid + 1000000L),
        s"query $qid: expected self + planted copy at the top, got $ids")
    }
  }

  test("topK: partial-shortlist recall@10 vs brute force is high") {
    val q = t.embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val pq = Pq.topK(t.embeddings, "vec_id", "embedding", q, k = 10,
        dim = 64, m = 4, shortlistFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(t.embeddings, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"ADC recall@10 with 8x shortlist: $recall")
  }

  test("topKFromIvf: full probe + corpus-covering shortlist equals brute force") {
    val q = t.embeddings.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val ivfpq = Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 5,
        dim = 64, m = 4, kCells = 8, nCells = 8, nProbe = 8,
        shortlistFactor = 1000000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val exact = Similarity.bruteForceTopK(t.embeddings, "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(ivfpq == exact, "nProbe = nCells + corpus shortlist must be brute force")
  }

  test("topKFromIvf: nProbe < nCells serves from probed cells with useful recall") {
    val q = t.embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 10,
        dim = 64, m = 4, kCells = 16, nCells = 8, nProbe = 4,
        shortlistFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(t.embeddings, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVFADC recall@10 at nProbe 4/8: $recall")
    // self must always surface: the query IS a corpus vector, its own cell
    // is always the nearest probe, and its residual codes match exactly
    val self = Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 1,
        dim = 64, m = 4, kCells = 16, nCells = 8, nProbe = 1,
        shortlistFactor = 8)
      .filter($"rank" === 1).collect()
    self.foreach(r => assert(r.getLong(0) == r.getLong(2),
      s"query ${r.getLong(0)}: self not at rank 1"))
  }

  test("persisted IVFPQ serves identically to the fused path; scan prunes to probed cells") {
    val dir = tmpDir("ivfpq")
    Pq.saveIvfPqIndex(dir, t.embeddings, "vec_id", "embedding", dim = 64,
      m = 4, kCells = 16, nCells = 8, iters = 2)
    val q = t.embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // bit-identical to the fused path at the SAME parameters, partial probe
    val fused = Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q,
        k = 10, dim = 64, m = 4, kCells = 16, nCells = 8, nProbe = 4,
        shortlistFactor = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val servedDf = Pq.topKFromIvfPqIndex(spark, dir, t.embeddings,
      "vec_id", "embedding", q, k = 10, nProbe = 4, shortlistFactor = 8)
    val served = servedDf.orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(served == fused,
      "persisted serve must be bit-identical to the fused path")
    // the code table is Hive-partitioned by cell on disk, and the serve's
    // static probe filter reaches the scan as partition pruning
    val parts = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).sorted
    assert(parts.length == 8, s"expected 8 cell partitions, got ${parts.toSeq}")
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell_id"),
      s"probed-cell filter must prune the code scan:\n$plan")
    // meta round-trips so a mis-parameterized serve cannot mis-slice
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert((meta.getInt(0), meta.getInt(1)) == (64, 4))
  }

  test("saving over a larger index leaves only the new cells") {
    // through a session built by GraftSession.builder, isolated from the
    // shared test session's settings
    val iso = spark.newSession()
    SparkSession.setActiveSession(iso)
    SparkSession.setDefaultSession(iso)
    try {
      val s = GraftSession.builder().getOrCreate()
      assert(s eq iso)
      val corpus = Tables(s, t.dir).embeddings
      val dir = tmpDir("ivfpqresave")
      def cells() = new java.io.File(s"$dir/codes").list().filter(_.startsWith("cell_id=")).toSeq
      Pq.saveIvfPqIndex(dir, corpus, "vec_id", "embedding", dim = 64, m = 4, kCells = 16, nCells = 8)
      assert(cells().size == 8)
      Pq.saveIvfPqIndex(dir, corpus, "vec_id", "embedding", dim = 64, m = 4, kCells = 16, nCells = 2)
      assert(cells().sorted == Seq("cell_id=0", "cell_id=1"))
      assert(s.read.parquet(s"$dir/codes").select("cell_id").distinct().count() == 2)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("topKFromIvf: invalid nProbe/dim rejected") {
    val q = t.embeddings.limit(1)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    intercept[IllegalArgumentException] {
      Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 1,
        dim = 64, nCells = 8, nProbe = 9)
    }
    intercept[IllegalArgumentException] {
      Pq.topKFromIvf(t.embeddings, "vec_id", "embedding", q, k = 1,
        dim = 64, m = 5)
    }
  }
}

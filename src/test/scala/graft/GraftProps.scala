package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.GraftFunctions._

/** Property tests (SURVEY.md §5.4). Spark-backed properties run few
  * cases (a job per case); algebraic ones run the full default count
  * on the JVM. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = Session.start(Session.query(4))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // Pure algebraic property of the minhash family: the component of a
  // union is the min of the components (what makes banding sound).
  property("minhash(A ∪ B) = min(minhash A, minhash B)") = {
    val g = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))
    forAll(g, g) { (a, b) =>
      val mh = (xs: List[String]) => xs.map(md5hex).min
      mh(a ++ b) == Seq(mh(a), mh(b)).min
    }
  }


  // Pure algebraic properties of the log-histogram bucketing (B53):
  // the whole q110 oracle-parity story rests on these two functions.
  property("log-histogram index is monotone non-decreasing in the value") = {
    import graft.functions.LogHistogramAgg.indexOf
    val g = Gen.chooseNum(0L, Long.MaxValue - 1)
    forAll(g, Gen.chooseNum(1, 12)) { (v, m) =>
      indexOf(v, m) <= indexOf(v + 1, m)
    }
  }

  property("log-histogram estimate lands in the value's own bucket within 2^-(m+1) relative error") = {
    import graft.functions.LogHistogramAgg.{estimateOf, indexOf}
    val g = Gen.chooseNum(1L, Long.MaxValue / 2)
    forAll(g, Gen.chooseNum(1, 12)) { (v, m) =>
      val est = estimateOf(indexOf(v, m), m)
      // same bucket both directions, and midpoint within half a bucket
      indexOf(est, m) == indexOf(v, m) &&
        math.abs(est - v).toDouble <= math.max(v.toDouble / (1L << (m + 1)).toDouble, 1.0)
    }
  }

  property("exact dedup is idempotent") = {
    val g = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "dd", "ee"))
    forAll(g) { texts =>
      import spark.implicits._
      val df = texts.toDF("text")
      def dedup(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("h", sha2(col("text"), 256)).dropDuplicates("h").drop("h")
      dedup(dedup(df)).count() == dedup(df).count()
    }
  }

  property("jaccard ∈ [0,1] and jaccard(x,x) = 1") = {
    val g = Gen.nonEmptyListOf(Gen.oneOf("w1", "w2", "w3", "w4", "w5"))
    forAll(g, g) { (xs, ys) =>
      import spark.implicits._
      val df = Seq((xs, ys)).toDF("a", "b")
        .select(
          (size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b")))).as("j"),
          (size(array_intersect(col("a"), col("a"))).cast("double") /
            size(array_union(col("a"), col("a")))).as("jself"))
      val r = df.head()
      val j = r.getDouble(0)
      j >= 0.0 && j <= 1.0 && r.getDouble(1) == 1.0
    }
  }

  property("top-k ⊆ top-(k+1) under total order") = {
    val g = Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000))
    forAll(g) { vals =>
      import spark.implicits._
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      def top(k: Int) = df.orderBy(col("v").desc, col("id")).limit(k)
        .collect().map(_.getLong(0)).toSet
      top(3).subsetOf(top(4))
    }
  }

  property("cosine(v, v) ≈ 1 for nonzero vectors (codegen expression)") = {
    val g = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(v => v.exists(x => math.abs(x) > 0.1f))
    forAll(g) { v =>
      import spark.implicits._
      val df = Seq(Tuple1(v)).toDF("e")
        .select(cosineSimFast(col("e"), col("e")).as("c"))
      math.abs(df.head().getDouble(0) - 1.0) < 1e-9
    }
  }

  property("union-all count additivity") = {
    val g = Gen.listOf(Gen.chooseNum(0, 100))
    forAll(g, g) { (a, b) =>
      import spark.implicits._
      val da = a.toDF("x"); val db = b.toDF("x")
      da.union(db).count() == da.count() + db.count()
    }
  }

  // Pure JVM twin of the q59 scrub: masking is idempotent because the
  // mask token contains no target substring.
  property("sensitive-term scrub is idempotent") = {
    val word = Gen.oneOf("customer", "supplier", "part", "table", "row", "x1")
    val g = Gen.listOf(word).map(_.mkString(" "))
    forAll(g) { text =>
      val scrub = (s: String) => s.replaceAll("customer|supplier|part", "<ENT>")
      scrub(scrub(text)) == scrub(text)
    }
  }

  // JVM twin of q58's run-length top-bigram count: equals the naive
  // groupBy count on arbitrary token lists, including the 2-token edge
  // (a single bigram) the (n-1) divisor depends on.
  property("sorted run-length max equals naive top-bigram count") = {
    val g = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    forAll(g) { toks =>
      val bigrams = toks.sliding(2).map(_.mkString(" ")).toList
      val naive = bigrams.groupBy(identity).values.map(_.size).max
      val sorted = bigrams.sorted
      val runMax = sorted.foldLeft(("", 0, 0)) { case ((prev, run, best), x) =>
        val r = if (x == prev) run + 1 else 1
        (x, r, math.max(best, r))
      }._3
      runMax == naive
    }
  }

  // The distributed packing recurrence (q80/q84's packCore) equals a
  // sequential greedy replay on ARBITRARY corpora — token counts
  // above the 512 budget (oversized singleton packs), exactly at it,
  // and tiny; multiple languages interleaved.
  property("sequence packing equals the sequential greedy replay") = {
    val doc = for {
      lang <- Gen.oneOf("en", "de")
      n <- Gen.oneOf(Gen.choose(1L, 60L), Gen.choose(400L, 700L), Gen.const(512L))
    } yield (lang, n)
    val g = Gen.nonEmptyListOf(doc).map(_.zipWithIndex
      .map { case ((lang, n), i) => (i.toLong, lang, n) })
    forAll(g) { docs =>
      import spark.implicits._
      val got = graft.ops.CurationOps
        .packCore(spark, docs.toDF("doc_id", "lang", "n"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
        var pack = 0L; var fill = 0L; var first = true
        ds.sortBy(_._1).map { case (id, _, n) =>
          if (!first && fill + n > 512L) { pack += 1; fill = n }
          else { fill += n; first = false }
          (id, lang, pack, n)
        }
      }.sortBy(_._1)
      got.toSeq == expected
    }
  }

  // The q57 sampling predicate against an INDEPENDENT formulation:
  // "first hex char is 0" iff the digest, read as a 128-bit unsigned
  // integer, is below 2^124 — i.e. the cut really is the lowest 1/16
  // of hash space, a pure function of (salt, id).
  property("hash-sample membership = lowest 1/16 of the digest space") = {
    val g = Gen.chooseNum(0L, 1000000L)
    forAll(g) { id =>
      val bytes = java.security.MessageDigest.getInstance("MD5")
        .digest(s"smpl:$id".getBytes("UTF-8"))
      val asInt = new java.math.BigInteger(1, bytes)
      md5hex(s"smpl:$id").startsWith("0") ==
        (asInt.compareTo(java.math.BigInteger.ONE.shiftLeft(124)) < 0)
    }
  }

  // q102 shard assignment vs an independent sequential replay: for a
  // random corpus, walking docs in the canonical (lang, bucket,
  // doc_id) order and cutting at every targetBytes boundary must
  // reproduce the distributed prefix-sum's shard ids exactly — and
  // shards are monotone non-decreasing in that order.
  property("export shards = sequential greedy replay in canonical order") = {
    val doc = for {
      id <- Gen.chooseNum(0L, 5000L)
      lang <- Gen.oneOf("en", "de")
      len <- Gen.chooseNum(1, 400)
    } yield (id, lang, "x" * len)
    val g = Gen.nonEmptyListOf(doc).map(_.distinctBy(_._1))
    forAll(g) { docs =>
      import spark.implicits._
      val target = 512L
      val df = docs.toDF("doc_id", "lang", "text")
      val got = graft.ingest.CorpusExport.assignShards(df, target, buckets = 8)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val expected = docs
        .map { case (id, lang, t) => (lang, id % 8, id, t.length + 1L) }
        .sortBy { case (lang, b, id, _) => (lang, b, id) }
        .groupBy(_._1).flatMap { case (_, perLang) =>
          var cum = 0L
          perLang.map { case (_, _, id, bytes) =>
            val shard = (cum / target).toInt; cum += bytes; id -> shard
          }
        }
      got == expected
    }
  }

  // Round-13 streaming page splitter: for ANY page list and ANY chunk
  // size (including 1-char reads that split "<page" across fills), the
  // incremental splitter yields exactly the whole-string split.
  property("splitPagesStream == splitPages for any page list and read-chunk size") = {
    val body = Gen.listOf(Gen.oneOf(Gen.alphaNumStr,
      Gen.const("<pag"), Gen.const("</pa"), Gen.const("x<y>")))
      .map(_.mkString(" "))
    val page = body.map(b => s"<page><title>t</title><text>$b</text></page>")
    val g = for {
      pages <- Gen.listOf(page)
      junk <- Gen.oneOf("", "hdr ", "<mediawiki>")
      chunk <- Gen.chooseNum(1, 97)
    } yield (junk + pages.mkString("j"), pages, chunk)
    forAll(g) { case (whole, pages, chunk) =>
      // a Reader that returns at most `chunk` chars per read call
      val r = new java.io.Reader {
        private val in = new java.io.StringReader(whole)
        def read(buf: Array[Char], off: Int, len: Int): Int =
          in.read(buf, off, math.min(len, chunk))
        def close(): Unit = in.close()
      }
      graft.ingest.Multistream.splitPagesStream(r).toList == pages
    }
  }

  // q181's CDC chunking is a PARTITION of the token stream: chunks
  // reassemble to the original text, every boundary is a hash-zero
  // position, and every interior hash-zero position is a boundary
  // (few cases — each is a Spark job).
  property("CDC chunks partition the token stream at exactly the hash-zero cuts") = {
    val word = Gen.chooseNum(0, 25).map(i => ('a' + i).toChar.toString * (i % 3 + 1))
    val g = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, word))
    forAll(g) { words =>
      import spark.implicits._
      val text = words.mkString(" ")
      val chunks = graft.ops.TextOps.cdcChunkTable(
        Seq((1L, text)).toDF("doc_id", "text"))
        .select("chunk_hash", "n_tok").collect()
      // reassembly: total token mass is preserved
      val totTok = chunks.map(_.getInt(1)).sum
      // boundary recount on the JVM (independent of the SQL exprs)
      val t = text.split(" ")
      val v = t.map(x => x.head.toLong * 131 + x.length)
      val cuts = (3 until t.length - 1).filter(i =>
        (v(i - 3) * 29791 + v(i - 2) * 961 + v(i - 1) * 31 + v(i)) % 8 == 0)
      totTok == t.length && chunks.length == cuts.length + 1
    }
  }

  // q196's systematic-PPS slot rule, replayed on the JVM against its
  // defining invariants for arbitrary positive weight lists: at most
  // k selected; exactly k when no item out-weighs a slot; every item
  // heavier than total/k is selected; and the selection is a pure
  // function of the weight PREFIX SUMS (appending items never changes
  // earlier picks) — the property that makes the rule incremental.
  property("systematic PPS: <=k picks, heavy items always picked, prefix-stable") = {
    val g = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 1000L)))
    val k = 5
    def pick(ws: List[Long]): List[Int] = {
      val total = ws.sum
      var cum = 0L
      ws.zipWithIndex.flatMap { case (w, i) =>
        val before = cum; cum += w
        if (before * k / total < cum * k / total) Some(i) else None
      }
    }
    forAll(g) { ws =>
      val sel = pick(ws)
      val total = ws.sum
      val heavyIn = ws.zipWithIndex.filter(_._1 * k > total).map(_._2)
        .forall(sel.contains)
      // exactly k picks whenever no single item spans a full slot
      val exactK = !ws.forall(_ * k <= total) || sel.size == k
      sel.size <= k && sel.nonEmpty && heavyIn && exactK && {
        // prefix stability: picks among the first m items are decided
        // by the first m prefix sums alone once total is fixed — check
        // via recomputing with the same total
        val m = ws.size / 2
        var cum = 0L
        val firstHalf = ws.take(m).zipWithIndex.flatMap { case (w, i) =>
          val before = cum; cum += w
          if (before * k / total < cum * k / total) Some(i) else None
        }
        firstHalf == sel.filter(_ < m)
      }
    }
  }
}

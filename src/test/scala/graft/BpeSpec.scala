package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference greedy left-to-right merge in plain Scala — the
    * definition the HOF must match. */
  private def refMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  test("applyMerge HOF equals the greedy-scan definition, incl. l==r overlaps") {
    // deterministic pseudo-random token streams over a 3-symbol
    // alphabet — small alphabet maximizes adjacent repeats (aa, aaa,
    // aaaa...) which is where greedy-left-first semantics bite
    val alpha = Vector("a", "b", "c")
    val cases = (0 until 200).map { seed =>
      val len = seed % 9 + 1
      (0 until len).map(j => alpha((seed * 31 + j * 17 + j * j) % 3)).toList
    } ++ Seq(Nil, List("a"), List("a", "a"), List("a", "a", "a"),
      List("a", "a", "a", "a"), List("a", "b", "a", "b"))
    for ((l, r) <- Seq(("a", "b"), ("a", "a"), ("b", "c"), ("c", "a"))) {
      val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
      val got = df.select($"id",
          Bpe.applyMerge($"toks", lit(l), lit(r)).as("m"))
        .as[(Long, Seq[String])].collect().toMap
      cases.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == refMerge(t, l, r),
          s"merge ($l,$r) on $t: got ${got(i.toLong)}, want ${refMerge(t, l, r)}")
      }
    }
  }

  test("learn picks the most frequent pair each round with total tie order") {
    // corpus: 'abab' x3, 'cd' x2 -> round 1 must pick (a,b) count 6
    // (two per word occurrence); after merging, 'ab','ab' adjacency
    // gives (ab,ab) count 3 vs (c,d) count 2 -> round 2 picks (ab,ab)
    val docs = Seq("abab abab abab", "cd cd").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val merges = Bpe.learn(docs, merges = 2)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toList
    assert(merges == List((1, "a", "b", 6L), (2, "ab", "ab", 3L)))
  }

  test("ties break on (count desc, left asc, right asc)") {
    // 'ab' and 'aa' both appear once -> counts tie at 1; (a,a) < (a,b)
    val docs = Seq("ab aa").toDF("text").withColumn("doc_id", lit(0L))
    val m = Bpe.learn(docs, merges = 1).as[(Int, String, String, Long)].head()
    assert(m == ((1, "a", "a", 1L)))
  }

  test("encode applies the learned merges in order, within word boundaries") {
    val docs = Seq((0L, "abab cd ab"), (1L, "ba bc")).toDF("doc_id", "text")
    val merges = Bpe.learn(docs, merges = 1) // (a,b), count 3
    val enc = Bpe.encode(docs, merges)
      .select($"doc_id", $"tokens").as[(Long, Seq[String])].collect().toMap
    assert(enc(0L) == Seq("ab", "ab", "c", "d", "ab"))
    // 'ba': no (a,b) adjacency inside the word; 'b','a' stay split —
    // and crucially the 'a'+'b' across the word boundary must NOT fuse
    assert(enc(1L) == Seq("b", "a", "b", "c"))
  }

  test("encodeFast kernel is bit-parity with the HOF reference encode") {
    // adversarial edge cases: l==r overlap chains, token-less docs,
    // merge chains where a fused symbol feeds a later merge, unicode
    // separators, digits
    val edge = Seq(
      (100L, ""), (101L, "!!! ??? ..."), (102L, "aaaa aaa aa a"),
      (103L, "abab baba ab ba"), (104L, "a1b2c3 123 abc"),
      (105L, "héllo wörld 日本"), (106L, "xyz " * 50),
      (107L, "The Quick BROWN fox-jumps_over 42 dogs!"))
      .toDF("doc_id", "text")
    val real = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"text")
    for (docs <- Seq(edge, real.limit(200))) {
      val merges = Bpe.learn(
        docs.where(length(trim($"text")) > lit(0)).limit(200), merges = 4)
      val slow = Bpe.encode(docs, merges)
        .select($"doc_id", $"n_tokens", $"tokens")
        .as[(Long, Int, Seq[String])].collect().sortBy(_._1)
      val fast = Bpe.encodeFast(docs, merges)
        .select($"doc_id", $"n_tokens", $"tokens")
        .as[(Long, Int, Seq[String])].collect().sortBy(_._1)
      assert(fast.length == slow.length)
      fast.zip(slow).foreach { case (f, s) =>
        assert(f == s, s"kernel/HOF divergence at doc ${s._1}: $f vs $s")
      }
    }
  }

  test("encodeFast sorts an unordered merge table by step") {
    val docs = Seq((0L, "abab cd ab")).toDF("doc_id", "text")
    // hand-built merge table, deliberately out of order: step 2 fuses
    // (ab, ab) which only exists if step 1 (a, b) ran first
    val merges = Seq((2, "ab", "ab", 1L), (1, "a", "b", 3L))
      .toDF("step", "m_left", "m_right", "pair_count")
    val enc = Bpe.encodeFast(docs, merges)
      .select($"tokens").as[Seq[String]].head()
    assert(enc == Seq("abab", "c", "d", "ab"))
  }

  test("merge memo evicts checkpoints of stopped sessions (forked 2-session JVM)") {
    // the eviction rule (TextQueries.learnedMerges removes entries
    // whose SparkContext is stopped) needs two SEQUENTIAL contexts in
    // one JVM — impossible under the shared test session, so the
    // scenario forks: session 1 learns + memoizes, stops; session 2
    // learns again; the probe asserts the dead entry was evicted and
    // the key rotated with the new applicationId.
    import scala.jdk.CollectionConverters._
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
      .toSeq
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ jvmOpts ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.MemoEvictionProbe", TestSpark.sfDir)
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(rc == 0 && out.toString.contains("MEMO_EVICTION_OK"),
      s"probe failed (rc=$rc):\n${out.toString.takeRight(2000)}")
  }

  test("learn leaves no persisted vocab rounds behind (storage flat)") {
    val docs = Tables.documents(spark, TestSpark.sfDir).limit(100)
    val before = spark.sparkContext.getPersistentRDDs.size
    val m = Bpe.learn(docs, merges = 3)
    m.collect() // materialize result
    val after = spark.sparkContext.getPersistentRDDs.size
    // learn pre-materializes its k-row merge table and releases every
    // per-step singleton and vocab round: exactly ONE tiny block may
    // remain (the returned table itself)
    assert(after - before <= 1,
      s"expected <=1 retained RDD (the merge table), got ${after - before}")
  }

  test("learn past the corpus's last pair fails loudly and leaves no rounds pinned") {
    // "abc" has two merges in it; step 3 finds no adjacent pair and
    // fails by design — the vocab round and the merge rows of steps 1
    // and 2, all checkpointed by then, must be released on that path too
    // compared as ids: the registry holds its RDDs weakly, so RDDs
    // other suites left behind may go away meanwhile
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val before = persisted
    val e = intercept[Exception](Bpe.learn(docs, merges = 4))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("no adjacent pairs left")), msgs.mkString(" | "))
    val left = persisted -- before
    assert(left.isEmpty, s"a failed learn left ${left.size} persistent RDDs behind")
  }
}

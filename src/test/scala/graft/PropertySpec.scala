package graft

import graft.ext.TextAnalysis
import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import scala.util.Random

/** Property-style tests (SURVEY.md §5.3) over seeded random inputs —
  * deterministic (fixed seeds), no generator dependency. Each property
  * runs a handful of trials; the invariants, not the trial count, carry
  * the weight: they must hold for EVERY input, so random shapes guard
  * against implementations that only work on the curated fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def trials(n: Int)(body: Random => Unit): Unit =
    (1 to n).foreach(i => body(new Random(42L + i)))

  test("upsert: idempotent, keep-existing, key-superset — random batches") {
    trials(5) { rnd =>
      val existing = (0 until rnd.nextInt(20) + 5)
        .map(i => (i.toLong, rnd.nextDouble())).toDF("k", "v")
      val batch = (0 until rnd.nextInt(30) + 5)
        .map(_ => (rnd.nextInt(40).toLong, rnd.nextDouble())).toDF("k", "v")
      val once = Upsert.upsert(existing, batch, Seq("k"), Seq("v"))
      val twice = Upsert.upsert(once, batch, Seq("k"), Seq("v"))
      assert(once.collect().toSet == twice.collect().toSet, "idempotence")
      val keysBefore = existing.select("k").as[Long].collect().toSet
      val winners = once.filter(col("k").isin(keysBefore.toSeq: _*))
      assert(winners.collect().toSet == existing.collect().toSet,
        "existing rows never change")
      assert(once.select("k").distinct().count() ==
        (keysBefore ++ batch.select("k").as[Long].collect().toSet).size,
        "result keys = union of key sets")
    }
  }

  test("ohlcBars: endpoints are real prices, bounds hold, volume partitions — random ticks") {
    trials(5) { rnd =>
      val rows = (0 until rnd.nextInt(60) + 20).map { i =>
        (Seq("x", "y")(rnd.nextInt(2)), rnd.nextInt(5).toLong, i.toLong,
          math.rint(rnd.nextDouble() * 1000) / 100 + 1, rnd.nextInt(9).toLong + 1)
      }
      val df = rows.toDF("sym", "bar", "tie", "p", "q")
      val bars = Analytics.ohlcBars(df, Seq(col("sym")), col("bar"),
          col("bar"), col("tie"), col("p"), col("q"))
        .collect()
      val byKey = rows.groupBy(r => (r._1, r._2))
      bars.foreach { b =>
        val grp = byKey((b.getAs[String]("sym"), b.getAs[Long]("bar")))
        val prices = grp.map(_._4)
        assert(b.getAs[Double]("high") == prices.max)
        assert(b.getAs[Double]("low") == prices.min)
        assert(b.getAs[Double]("open") == grp.minBy(_._3)._4, "open = price at min tie")
        assert(b.getAs[Double]("close") == grp.maxBy(_._3)._4)
        assert(b.getAs[Long]("volume") == grp.map(_._5).sum)
        val v = b.getAs[Double]("vwap")
        assert(v >= prices.min - 1e-6 && v <= prices.max + 1e-6,
          "vwap is a convex combination of prices")
      }
      assert(bars.map(_.getAs[Long]("volume")).sum == rows.map(_._5).sum,
        "bars partition the ticks: total volume preserved")
    }
  }

  test("drawdown in [-1, 0] and 0 at each running high; rsi in [0, 100] — random series") {
    trials(5) { rnd =>
      val rows = for (k <- Seq("a", "b"); t <- 1 to rnd.nextInt(40) + 10)
        yield (k, t, math.rint(rnd.nextDouble() * 10000) / 100 + 1)
      val df = rows.toDF("k", "t", "v")
      val dd = Analytics.drawdown(df, "v", Seq("k"), Seq("t"))
        .select("k", "t", "v", "peak", "drawdown")
        .as[(String, Int, Double, Double, Double)].collect()
      dd.foreach { case (_, _, v, peak, d) =>
        assert(d <= 0.0 && d >= -1.0, s"drawdown $d out of [-1, 0]")
        assert(v <= peak + 1e-9)
        if (v == peak) assert(d == 0.0, "at the running high, drawdown is 0")
      }
      dd.groupBy(_._1).foreach { case (_, s) =>
        val sorted = s.sortBy(_._2)
        assert(sorted.map(_._4).toSeq ==
          sorted.map(_._4).scanLeft(0.0)(math.max).tail.toSeq,
          "peak IS the running max")
      }
      val rsis = Analytics.rsi(df, "v", Seq("k"), Seq("t"), 5)
        .select("rsi").as[Option[Double]].collect().flatten
      rsis.foreach(r => assert(r >= 0.0 && r <= 100.0, s"rsi $r out of [0, 100]"))
    }
  }

  test("diffPartitions: no edit → empty; any single-row edit → exactly that partition") {
    trials(5) { rnd =>
      val rows = (0 until rnd.nextInt(30) + 10)
        .map(i => (s"p${i % 4}", i.toLong, math.rint(rnd.nextDouble() * 100) / 100))
      def dec(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("v", col("v").cast(DecimalType(18, 2)))
      val a = dec(rows.toDF("p", "k", "v"))
      assert(Checksum.diffPartitions(a, dec(rows.reverse.toDF("p", "k", "v")),
        Seq("p"), Seq("k", "v")).isEmpty, "row order must not register as change")
      val victim = rows(rnd.nextInt(rows.size))
      val edited = rows.map(r => if (r == victim) r.copy(_3 = r._3 + 1) else r)
      val got = Checksum.diffPartitions(a, dec(edited.toDF("p", "k", "v")),
        Seq("p"), Seq("k", "v")).select("p", "status")
        .as[(String, String)].collect().toSeq
      assert(got == Seq((victim._1, "changed")),
        s"exactly the victim's partition flags: $got")
    }
  }

  test("corpusOverlap bounds: jaccard ≤ each containment ≤ 1; identical corpora → all 1") {
    import graft.ext.Contamination
    trials(5) { rnd =>
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      def corpus(n: Int) = (1 to n)
        .map(i => (i.toLong, vocab(rnd.nextInt(vocab.size))))
      val a = corpus(rnd.nextInt(20) + 5).toDF("id", "text")
      val b = corpus(rnd.nextInt(20) + 5).toDF("id", "text")
      val r = Contamination.corpusOverlap(a, b, "text").collect().head
      val (j, ca, cb) = (r.getAs[Double]("jaccard"),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"))
      assert(j <= ca + 1e-9 && j <= cb + 1e-9, "jaccard never exceeds containment")
      assert(ca <= 1.0 && cb <= 1.0 && j >= 0.0)
      val self = Contamination.corpusOverlap(a, a, "text").collect().head
      assert(self.getAs[Double]("jaccard") == 1.0, "a corpus fully overlaps itself")
    }
  }

  test("charEntropy bounded by log2 of the distinct-char count, within 6dp slack") {
    import graft.ext.TextAnalysis
    trials(5) { rnd =>
      val rows = (1 to 20).map { i =>
        (i.toLong, (1 to rnd.nextInt(60) + 1)
          .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
      }
      val out = rows.toDF("id", "text")
        .select(col("text"), TextAnalysis.charEntropy(col("text")).as("e"))
        .as[(String, Double)].collect()
      out.foreach { case (t, e) =>
        val bound = math.log(t.distinct.length.toDouble) / math.log(2)
        // each of ≤6 per-char terms is individually 6dp-rounded → ≤3e-6 slack
        assert(e >= -1e-5 && e <= bound + 1e-5,
          s"entropy $e out of [0, log2(${t.distinct.length})] for '$t'")
      }
    }
  }

  test("normalizeUrl is idempotent and strips every tracking param — random URLs") {
    import graft.ext.Curation
    trials(5) { rnd =>
      def pick[A](xs: Seq[A]) = xs(rnd.nextInt(xs.size))
      val urls = (1 to 40).map { i =>
        val scheme = pick(Seq("http", "HTTPS", "Http", "ftp"))
        val host = pick(Seq("Example.COM", "a.b.Co.UK", "X.github.IO", "h-1.de"))
        val port = pick(Seq("", ":80", ":443", ":8080"))
        val path = pick(Seq("", "/", "/A/b", "/p%20q"))
        val params = (0 until rnd.nextInt(4)).map(_ =>
          pick(Seq("a=1", "utm_source=x", "gclid=9", "B=2", "ref=r", "")))
        val q = if (params.isEmpty) "" else "?" + params.mkString("&")
        val frag = pick(Seq("", "#f", "#a/b?c=1"))
        (i.toLong, s"$scheme://$host$port$path$q$frag")
      }
      val df = urls.toDF("id", "u")
        .withColumn("n1", Curation.normalizeUrl(col("u")))
        .withColumn("n2", Curation.normalizeUrl(col("n1")))
      val rows = df.select("u", "n1", "n2").as[(String, String, String)].collect()
      rows.foreach { case (u, n1, n2) =>
        assert(n1 == n2, s"not idempotent: $u -> $n1 -> $n2")
        assert(!n1.contains("#"), s"fragment survived: $u -> $n1")
        assert(!n1.contains("utm_") && !n1.contains("gclid"),
          s"tracking param survived: $u -> $n1")
      }
    }
  }

  test("pctChange inverts: cur == lag * (1 + delta); first-in-key delta is 0") {
    trials(5) { rnd =>
      val rows = for {
        k <- Seq("a", "b", "c"); t <- 1 to rnd.nextInt(10) + 2
      } yield (k, t, rnd.nextDouble() * 100 + 1) // strictly positive
      val df = rows.toDF("k", "t", "v")
      val out = Analytics.pctChange(df, Seq("v"), Seq("k"), Seq("t"))
        .select("k", "t", "v", "v_delta")
        .as[(String, Int, Double, Double)].collect().sortBy(r => (r._1, r._2))
      out.groupBy(_._1).foreach { case (_, series) =>
        assert(series.head._4 == 0.0, "first row of each key → 0")
        series.sliding(2).foreach {
          case Array((_, _, prev, _), (_, _, cur, d)) =>
            assert(math.abs(prev * (1 + d) - cur) < 1e-9, "algebraic inverse")
          case _ =>
        }
      }
    }
  }

  test("sessionizeBatch invariants: partition, gap bounds, count/sum conservation") {
    trials(5) { rnd =>
      val gapSec = 60L
      val rows = for {
        u <- 1L to 3L
        i <- 1 to rnd.nextInt(30) + 5
      } yield (i.toLong * 10 + u, u,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(3600) * 1000L),
        rnd.nextDouble() * 10)
      val df = rows.toDF("event_id", "user_id", "ts", "value")
      val sessions = Analytics.sessionizeBatch(df, "user_id", "ts", "event_id",
          "value", gapSec)
        .as[(Long, Long, Long, Double, java.sql.Timestamp, java.sql.Timestamp)]
        .collect()
      // Conservation: sessions partition the events exactly.
      assert(sessions.map(_._3).sum == rows.size, "every event in exactly one session")
      sessions.groupBy(_._1).foreach { case (u, ss) =>
        val sorted = ss.sortBy(_._2)
        sorted.foreach { s =>
          assert(!s._6.before(s._5), "session end >= start")
          assert(s._6.getTime - s._5.getTime <= (s._3 - 1) * gapSec * 1000,
            "a session of n events spans at most (n-1) gaps")
        }
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(b._5.getTime - a._6.getTime > gapSec * 1000,
              "consecutive sessions of a user are separated by more than the gap")
          case _ =>
        }
      }
    }
  }

  test("saltedSumCount equals plain groupBy for arbitrary data and salt counts") {
    trials(5) { rnd =>
      val df = (0 until rnd.nextInt(200) + 50)
        .map(i => (i.toLong, s"k${rnd.nextInt(4)}", (rnd.nextInt(10000) / 100.0)))
        .toDF("id", "k", "v")
      val salted = Analytics.saltedSumCount(df, Seq("k"),
          col("v").cast(DecimalType(18, 2)), col("id"), rnd.nextInt(16) + 1)
        .select(col("k"), col("sum_v").cast(DoubleType), col("n"))
        .as[(String, Double, Long)].collect().toSet
      val plain = df.groupBy("k")
        .agg(sum(col("v").cast(DecimalType(18, 2))).cast(DoubleType).as("s"),
          count(lit(1)).as("n"))
        .as[(String, Double, Long)].collect().toSet
      assert(salted == plain)
    }
  }

  test("union-read equivalence: per-key loop ≡ whole-table scan") {
    trials(3) { rnd =>
      val df = (0 until 100)
        .map(i => (i.toLong, s"k${rnd.nextInt(5)}", rnd.nextDouble()))
        .toDF("id", "k", "v")
      val keys = df.select("k").distinct().as[String].collect().toSeq
      val looped = Reshape.unionAll(keys.map(k => df.filter(col("k") === k)))
      assert(looped.collect().toSet == df.collect().toSet,
        "the reference's per-symbol append loop ≡ one scan")
    }
  }

  test("sizedShards: byte bounds and completeness hold on random size distributions") {
    trials(3) { rnd =>
      // Mixed tiny and huge rows — exactly the distribution hash
      // sharding cannot size-balance.
      val rows = (0 until rnd.nextInt(150) + 80).map { i =>
        (i.toLong, if (rnd.nextInt(5) == 0) rnd.nextInt(5000).toLong + 2000
                   else rnd.nextInt(200).toLong + 1) }
      val target = 4000L
      val stripes = 3
      val sharded = graft.ext.Export.sizedShards(rows.toDF("k", "bytes"),
        col("k"), col("bytes"), target, stripes)
      val got = sharded.select("k", "bytes", "shard")
        .as[(Long, Long, Int)].collect().toSeq
      assert(got.map(_._1).sorted == rows.map(_._1).sorted,
        "every row lands in exactly one shard")
      val perShard = got.groupBy(_._3)
      val maxRow = rows.map(_._2).max
      perShard.foreach { case (sh, members) =>
        assert(members.map(_._2).sum < target + maxRow,
          s"shard $sh overshot the boundary-row bound") }
      // Rows LARGER than the target can jump the running sum into the
      // middle of a pack, so the general non-final lower bound is
      // > target − maxRow (it tightens to ≥ target when every row fits
      // the target — the ExtSpec corpus case).
      val lastPerStripe = perShard.keys.groupBy(_ % stripes).values.map(_.max).toSet
      perShard.filterNot { case (sh, _) => lastPerStripe(sh) }
        .foreach { case (sh, members) =>
          assert(members.map(_._2).sum > target - maxRow,
            s"non-final shard $sh below the jump-in bound") }
    }
  }

  test("upsampleByEpochs: copy counts are floor/ceil of epochs, totals add up — random maps") {
    trials(3) { rnd =>
      val srcs = Seq("a", "b", "c", "d")
      val epochs = srcs.map(s => s -> rnd.nextInt(400)).toMap
      val rows = (0 until 200).map(i => (i.toLong, srcs(rnd.nextInt(srcs.size))))
      val up = graft.ext.Sampling.upsampleByEpochs(rows.toDF("k", "src"),
          col("src"), col("k"), epochs)
        .groupBy("k", "src").count().as[(Long, String, Long)].collect()
      up.foreach { case (_, s, n) =>
        val bp = epochs(s)
        assert(n == bp / 100 || n == bp / 100 + 1,
          s"source $s at $bp bp must emit floor or floor+1 copies, got $n") }
      // Dropped rows are exactly the 0-copy ones; everything else appears.
      val emitted = up.map(_._1).toSet
      rows.foreach { case (k, s) =>
        if (epochs(s) >= 100) assert(emitted(k), s"row $k of ${s} lost") }
    }
  }

  test("redistributedBudgets: conservation and no-op hold on random corpora") {
    trials(3) { rnd =>
      val srcs = Seq("a", "b", "c")
      val rows = (0 until 150).map(i =>
        (i.toLong, srcs(rnd.nextInt(srcs.size)), rnd.nextInt(50).toLong + 1))
      val df = rows.toDF("k", "src", "t")
      val supply = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      // One GENUINELY dry source — budget ≥ 2×supply guarantees every
      // per-shard budget exceeds its shard's supply, so the whole
      // source selects (a budget merely above total supply can leave
      // docs unselected in one shard under an uneven hash split, and
      // such a source is then a legitimate absorber, not a dry one).
      val budgets = Map("a" -> (supply("a") * 2 + rnd.nextInt(500) + 100L),
        "b" -> supply("b") / 4, "c" -> supply("c") / 4)
      val adj = graft.ext.Sampling.redistributedBudgets(df, col("src"),
        col("k"), col("t"), budgets, shards = 2)
      assert(adj("a") == budgets("a"), "dry source keeps its name-only budget")
      assert(adj.keySet == budgets.keySet)
      // Σ adjusted = Σ original + unused (computed from the pass-1 run).
      val base = graft.ext.Sampling.mixtureByTokenBudget(df, col("src"),
        col("k"), col("t"), budgets, shards = 2)
      val achievedA = base.filter(col("src") === "a").agg(sum("t"))
        .as[Long].head()
      val unused = budgets("a") - achievedA
      assert(adj.values.sum == budgets.values.sum + unused,
        "grand total conserved exactly")
      // No shortfall → exact no-op.
      val slack = Map("b" -> supply("b") / 4, "c" -> supply("c") / 4)
      assert(graft.ext.Sampling.redistributedBudgets(df, col("src"), col("k"),
        col("t"), slack, shards = 2) == slack)
    }
  }

  test("learnMerges incremental bookkeeping == recount-per-round reference") {
    // The inverted-index delta loop must be a PURE refactor of the
    // recount implementation: identical counts every round, identical
    // (max, tie-break) picks, identical merge lists — on random
    // corpora, not just goldens.
    def recountReference(vocab: Seq[(String, Long)],
                         nMerges: Int): Seq[(String, String)] = {
      var words: Seq[(Vector[String], Long)] =
        vocab.map { case (w, n) => (w.toVector.map(_.toString), n) }
      val merges = Seq.newBuilder[(String, String)]
      var round = 0
      var exhausted = false
      while (round < nMerges && !exhausted) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, n) =>
          syms.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
          merges += best
          val joined = best._1 + best._2
          words = words.map { case (syms, n) =>
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                out += joined; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.result(), n)
          }
          round += 1
        }
      }
      merges.result()
    }
    trials(3) { rnd =>
      // Random ASCII-letter words with overlap-prone shapes (repeats
      // like "aaab" stress the leftmost-non-overlapping rewrite).
      val alphabet = "abcd"
      val words = (0 until 40).map { _ =>
        (0 until (1 + rnd.nextInt(6)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val rows = words.zipWithIndex.flatMap { case (w, i) =>
        Seq.fill(1 + rnd.nextInt(4))(w) }
      val df = rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("k", "text")
      val got = graft.ext.Bpe.learnMerges(df, "text", nMerges = 25)
      // Reference vocab: the same (count desc, word) ordering the
      // distributed pass produces.
      val vocab = rows.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy { case (w, n) => (-n, w) }
      assert(got == recountReference(vocab, 25),
        s"incremental and recount training diverged on $vocab")
    }
  }

  test("BPE encode/decode: lossless round-trip over random multi-script strings") {
    import graft.ext.Bpe
    // Pool spans every pre-token class: lower/upper/digit runs,
    // whitespace runs (incl. tabs/newlines), ASCII punctuation,
    // non-ASCII (CJK with byte merges, accented, currency, a
    // surrogate-pair emoji), and merge-prone English fragments.
    val pool: IndexedSeq[String] =
      (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString) ++
        Seq(" ", "  ", "\n", "\t", ".", ",", "!", "?", "-",
          "数", "据", "数据", "é", "ü", "€", "😀",
          "the ", "and ", "tion", "Then THE")
    trials(8) { rnd =>
      val s = (0 until rnd.nextInt(80))
        .map(_ => pool(rnd.nextInt(pool.size))).mkString
      val ids = Bpe.encodeIds(s)
      assert(Bpe.decodeIds(ids.toIndexedSeq) == s,
        s"round-trip failed on: ${s.take(60)}")
      assert(ids.forall(i => i >= 0 && i < 256 + Bpe.ByteMerges.size),
        "ids stay inside the induced vocabulary range")
    }
    // Merges really fire: 'the' is ONE token (t+h, th+e), and the CJK
    // byte chain reassembles 数据 to one token — then decodes exactly.
    assert(Bpe.encodeIds("the").length == 1)
    assert(Bpe.encodeIds("数据").length == 1)
    assert(Bpe.decodeIds(Bpe.encodeIds("The Quick  brown\nfox 数据 é!").toIndexedSeq)
      == "The Quick  brown\nfox 数据 é!")
    // An id outside the table refuses loudly, not garbage output.
    intercept[IllegalArgumentException] { Bpe.decodeIds(Seq(9999)) }
  }

  test("encodeTokens: the dataset op measures its own round-trip") {
    import graft.ext.Bpe
    val df = Seq((1L, "The QUICK  brown\nfox 数据 é!"), (2L, ""),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Bpe.encodeTokens(df, "doc_id", "text").collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[Boolean]("roundtrip_ok")),
      "every row must decode back to its input (null reads as empty)")
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Int]("n_tokens") == r1.getAs[Seq[Int]]("token_ids").size)
    assert(out.find(_.getLong(0) == 2L).get.getAs[Int]("n_tokens") == 0)
  }

  test("temperatureBudgets: exact apportionment, α endpoints, supply monotonicity") {
    trials(3) { rnd =>
      val srcs = Seq("a", "b", "c", "d")
      val rows = (0 until 200).map(i =>
        (i.toLong, srcs(rnd.nextInt(srcs.size)), rnd.nextInt(50).toLong + 1))
      val df = rows.toDF("k", "src", "t")
      val supply = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
        .withDefaultValue(0L)
      val total = 1000L + rnd.nextInt(5000)
      for (alpha <- Seq(0, 30, 50, 70, 100)) {
        val b = graft.ext.Sampling.temperatureBudgets(df, col("src"),
          col("t"), srcs, total, alpha)
        assert(b.keySet == srcs.toSet)
        assert(b.values.sum == total,
          s"Σ budgets must equal total exactly at α=$alpha, got ${b.values.sum}")
        assert(b.values.forall(_ >= 0))
        // Monotone in supply: a larger supply never gets a smaller
        // budget (largest-remainder can differ by at most the bump).
        for (s1 <- srcs; s2 <- srcs if supply(s1) > supply(s2))
          assert(b(s1) + 1 >= b(s2),
            s"α=$alpha: supply(${s1})=${supply(s1)} > supply(${s2})=${supply(s2)} " +
              s"but budget ${b(s1)} < ${b(s2)} - 1")
      }
      // α = 0: uniform weights → equal split ±1 (largest remainder).
      val uni = graft.ext.Sampling.temperatureBudgets(df, col("src"),
        col("t"), srcs, total, 0)
      assert(uni.values.max - uni.values.min <= 1, s"α=0 must split evenly, got $uni")
      // α = 100: proportional — each budget within 1 of total·supply/Σ.
      val prop = graft.ext.Sampling.temperatureBudgets(df, col("src"),
        col("t"), srcs, total, 100)
      val supTot = srcs.map(supply).sum
      srcs.foreach { s =>
        val exact = BigInt(total) * supply(s) / supTot
        assert((BigInt(prop(s)) - exact).abs <= 1,
          s"α=1 budget for $s must be proportional ±1: got ${prop(s)} vs ~$exact")
      }
      // Zero-supply source gets zero (never bumped by the remainder).
      val withGhost = graft.ext.Sampling.temperatureBudgets(df, col("src"),
        col("t"), srcs :+ "ghost", total, 50)
      assert(withGhost("ghost") == 0L, "zero-supply source must get budget 0")
      assert(withGhost.values.sum == total)
    }
  }

  test("r12 scoring ops are bit-deterministic under repartitioning") {
    // The decimal-sum/fixed-IEEE-tree claims, exercised: DSIR weights,
    // BM25 scores, and JM perplexity must not move a single bit when
    // the input's partitioning (and thus every partial-agg order)
    // changes.
    import graft.ext.{Retrieval, Sampling, TextAnalysis}
    val docs = (1L to 120L).map { i =>
      (i, (1 to (i % 13 + 3).toInt)
        .map(j => s"w${(i * 31 + j * 17) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") % 5 === 0)
    val q = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    def all(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    for (parts <- Seq(1, 7)) {
      val dr = docs.repartition(parts)
      assert(all(Sampling.importanceWeights(dr, "doc_id", "text",
          target.repartition(parts), "text", 64)) ==
        all(Sampling.importanceWeights(docs, "doc_id", "text", target, "text", 64)),
        s"DSIR weights moved at parts=$parts")
      assert(all(Retrieval.bm25TopK(q, dr, 5, cId = "doc_id", cText = "text")) ==
        all(Retrieval.bm25TopK(q, docs, 5, cId = "doc_id", cText = "text")),
        s"BM25 moved at parts=$parts")
      assert(all(TextAnalysis.perplexityInterpolated(dr, "doc_id", "text",
          target.repartition(parts), "text", 75)) ==
        all(TextAnalysis.perplexityInterpolated(docs, "doc_id", "text",
          target, "text", 75)),
        s"JM perplexity moved at parts=$parts")
    }
  }

  test("c4LineFilter: every surviving line satisfies every line rule — random lines") {
    trials(5) { rnd =>
      val terms = Seq(".", "!", "?", "", " x", ":")
      val fill = Seq("alpha", "beta", "gamma", "javascript", "delta")
      val docs = (0 until rnd.nextInt(20) + 5).map { i =>
        val nLines = rnd.nextInt(8) + 1
        val text = (0 until nLines).map { _ =>
          val words = (0 until rnd.nextInt(6)).map(_ =>
            fill(rnd.nextInt(fill.size))).mkString(" ")
          words + terms(rnd.nextInt(terms.size))
        }.mkString("\n")
        (i.toLong, text)
      }.toDF("doc_id", "text")
      val out = TextAnalysis.c4LineFilter(docs, "doc_id", "text",
        minLineWords = 3, minLines = 2).collect()
      out.foreach { r =>
        val lines = r.getString(1).split("\n", -1)
        assert(lines.length >= 2, "doc gate: at least minLines survive")
        assert(r.getInt(2) == lines.length, "n_lines_kept matches the text")
        lines.foreach { l =>
          assert(Seq(".", "!", "?").contains(l.takeRight(1)), s"terminal: '$l'")
          assert(l.trim.split(" ").length >= 3, s"min words: '$l'")
          assert(!l.toLowerCase.contains("javascript"), s"poison: '$l'")
        }
      }
    }
  }

  test("exciseDuplicateSpans accounting closes and spans really leave — random dup plants") {
    import graft.ext.Dedup
    trials(5) { rnd =>
      // random docs, with a shared 4-word run planted into a random subset
      val vocab = (0 until 40).map(i => s"w$i")
      val plant = "dup1 dup2 dup3 dup4"
      val docs = (0 until rnd.nextInt(10) + 6).map { i =>
        val words = (0 until rnd.nextInt(15) + 6).map(_ =>
          vocab(rnd.nextInt(vocab.size)))
        val text =
          if (rnd.nextBoolean()) (words.take(3) ++ Seq(plant) ++ words.drop(3)).mkString(" ")
          else words.mkString(" ")
        (i.toLong, text)
      }.toDF("doc_id", "text")
      val out = Dedup.exciseDuplicateSpans(docs, "doc_id", "text", 2).collect()
      val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.length == orig.size, "every doc survives with accounting")
      out.foreach { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        val normOrig = orig(id).split(" ", -1).mkString(" ")
        assert(r.getInt(4) == normOrig.length - text.length,
          "n_chars_removed closes against the normalized original")
        val origWords = normOrig.split(" ", -1).length
        val keptWords = if (text.isEmpty) 0 else text.split(" ", -1).length
        assert(r.getLong(3) == origWords - keptWords,
          "n_words_removed closes against the word counts")
        assert((r.getLong(2) == 0) == (r.getLong(3) == 0),
          "spans and words zero together")
      }
    }
  }

  test("heavyHitterWords: shares in (0,1], sum over ALL words is 1 at floor 1/total") {
    trials(5) { rnd =>
      val vocab = (0 until rnd.nextInt(10) + 3).map(i => s"t$i")
      val docs = (0 until rnd.nextInt(10) + 3).map { i =>
        (i.toLong, (0 until rnd.nextInt(20) + 1).map(_ =>
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val total = docs.collect().map(_.getString(1).split(" ", -1).length).sum
      val all = TextAnalysis.heavyHitterWords(docs, "text", 1.0 / (2 * total))
        .collect()
      val sum = all.map(_.getDouble(2)).sum
      assert(math.abs(sum - 1.0) < 1e-4, s"shares sum ~1, got $sum")
      assert(all.map(_.getLong(1)).sum == total, "counts conserve")
    }
  }

  test("momentStats matches a naive per-group reference — random values") {
    trials(5) { rnd =>
      val rows = (0 until rnd.nextInt(200) + 50)
        .map(i => (s"g${i % 3}", math.rint(rnd.nextDouble() * 2000) / 100))
      val out = Analytics.momentStats(rows.toDF("k", "v"), "v", Seq("k"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      rows.groupBy(_._1).foreach { case (g, vs) =>
        val xs = vs.map(_._2)
        val mean = xs.sum / xs.size
        val m2 = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
        val (n, gm, gv) = out(g)
        assert(n == xs.size)
        assert(math.abs(gm - mean) < 1e-6, s"$g mean $gm vs $mean")
        assert(math.abs(gv - m2) < 1e-5, s"$g var $gv vs $m2")
      }
    }
  }

  test("interleaveBySource: bijection onto residue classes, prefix balance — random corpora") {
    import graft.ext.Sampling
    trials(5) { rnd =>
      val nSrc = rnd.nextInt(4) + 2
      val rows = (0 until rnd.nextInt(80) + 20)
        .map(i => (i.toLong, s"s${rnd.nextInt(nSrc)}"))
      val present = rows.map(_._2).distinct.sorted
      val out = Sampling.interleaveBySource(rows.toDF("id", "src"),
          col("src"), col("id"))
        .select("id", "src", "pos").as[(Long, String, Long)].collect()
      assert(out.map(_._3).distinct.length == rows.size, "positions distinct")
      // every position's residue class identifies its source
      val srcIdx = present.zipWithIndex.toMap
      out.foreach { case (_, s, p) =>
        assert(p % present.size == srcIdx(s), "residue = source index") }
      // reading in pos order, any prefix holds at most ceil(len/n)+1 more
      // of one source than another source that still has members left
      val ordered = out.sortBy(_._3).map(_._2)
      val counts = present.map(s => s -> rows.count(_._2 == s)).toMap
      ordered.zipWithIndex.foreach { case (_, i) =>
        val pre = ordered.take(i + 1).groupBy(identity).view.mapValues(_.length)
        for (a <- present; b <- present if a != b) {
          val (ca, cb) = (pre.getOrElse(a, 0), pre.getOrElse(b, 0))
          if (cb < counts(b))
            assert(ca - cb <= 1, s"round-robin balance broke at prefix $i")
        }
      }
    }
  }

  test("packBoundaries: offsets tile each pack exactly — random token widths") {
    import graft.ext.Sampling
    trials(5) { rnd =>
      val docs = (0 until rnd.nextInt(60) + 20)
        .map(i => (i.toLong, (rnd.nextInt(9) + 1).toLong)).toDF("k", "toks")
      val budget = (rnd.nextInt(20) + 10).toLong
      val b = Sampling.packBoundaries(docs, col("k"), col("toks"),
          budget, shards = rnd.nextInt(3) + 1).collect()
      b.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getInt(2))
        var run = 0L
        sorted.foreach { r =>
          assert(r.getLong(4) == run, "token_start is the exact running sum")
          run += r.getLong(5)
        }
      }
      assert(b.length == docs.count(), "every doc appears exactly once")
    }
  }

  test("balanceClasses: exact quotas, subset, class-wise prefix stability — random labels") {
    import graft.ext.Sampling
    trials(5) { rnd =>
      val rows = (0 until rnd.nextInt(100) + 30)
        .map(i => (i.toLong, rnd.nextInt(4)))
      val df = rows.toDF("id", "lbl")
      val out = Sampling.balanceClasses(df, col("lbl"), col("id"))
        .select("id", "lbl").as[(Long, Int)].collect()
      val minCount = rows.groupBy(_._2).map(_._2.size).min
      val got = out.groupBy(_._2).view.mapValues(_.length).toMap
      rows.map(_._2).distinct.foreach { l =>
        assert(got(l) == minCount, s"class $l quota $minCount, got ${got(l)}") }
      assert(out.toSet.subsetOf(rows.toSet), "output is a subset of input")
    }
  }

  test("sidecar pruning never drops: every stored key survives a point read — random key types") {
    // The invariant the whole pruning stack rests on (range `.stats` +
    // `.bloom2`, [[Upsert.pruneDirs]]): a dir containing a probed key
    // is NEVER pruned, for any key type and any value — including the
    // UTF-8-vs-UTF-16 order edge (supplementary-plane characters sort
    // differently under the two encodings; stats are compared in the
    // order Spark's min/max computed them) and timezone-sensitive
    // timestamp/date canons. Blooms/stats only ever skip true
    // negatives, so a single lost row here means a silently partial
    // point read, merge, or erasure.
    val trickyStrings = Seq("", "a", "Z", "é", "", "�",
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x10FFFF)),
      "a" + new String(Character.toChars(0x1F600)) + "b",
      "sep", "km/h", "née", "ÿ", "😁x")
    trials(3) { rnd =>
      def randStr() =
        if (rnd.nextBoolean()) trickyStrings(rnd.nextInt(trickyStrings.size))
        else rnd.alphanumeric.take(rnd.nextInt(8) + 1).mkString
      def randLong() = rnd.nextLong() % 1000000L
      // 1840..2100 at millisecond precision: pre-1970 instants with
      // fractional seconds are where a truncating canon goes wrong.
      def randTs() = new java.sql.Timestamp(rnd.nextLong() % 4102444800000L)
      def randDate() = java.sql.Date.valueOf(java.time.LocalDate
        .ofEpochDay(rnd.nextInt(60000).toLong - 10000))
      def run[T](mk: () => T)(implicit enc: org.apache.spark.sql.Encoder[(T, Int)],
          enck: org.apache.spark.sql.Encoder[Tuple1[T]]): Unit = {
        val path = java.nio.file.Files.createTempDirectory("snapprop").toString
        // Three batches of random keys → three dirs with stats+blooms;
        // duplicates across batches exercise keep-existing too.
        val keys = (0 until 10).map(_ => mk()).distinct
        val batches = keys.grouped((keys.size + 2) / 3).toSeq
        var tag = 0
        batches.foreach { b =>
          tag += 1
          Upsert.writeSnapshot(spark,
            path, b.map(k => (k, tag)).toDF("k", "n"), Seq("k"), Seq("n"))
        }
        val v = Upsert.latestVersion(spark, path)
        val all = Upsert.readSnapshot(spark, path, v)
          .as[(T, Int)].collect().toMap
        assert(all.keySet == keys.toSet, s"sink holds every key: $path")
        // Probe a sample of keys ALONE (the sharpest prune — one key,
        // so one false range/bloom negative loses the whole answer)
        // and every key in a random group; stored rows must always
        // come back.
        rnd.shuffle(keys).take(4).foreach { k =>
          val got = Upsert.readSnapshotForKeys(spark, path, v,
            Seq(Tuple1(k)).toDF("k"), Seq("k")).as[(T, Int)].collect()
          assert(got.length == 1 && got.head._1 == k,
            s"point read lost key '$k' (probed ${Upsert.lastProbedDirs.get()})")
        }
        val group = rnd.shuffle(keys).take(rnd.nextInt(keys.size) + 1)
        val gotG = Upsert.readSnapshotForKeys(spark, path, v,
          group.map(Tuple1(_)).toDF("k"), Seq("k")).as[(T, Int)]
          .collect().toSeq.map(_._1).toSet
        assert(gotG == group.toSet, s"group probe lost keys: " +
          s"missing ${group.toSet -- gotG} (probed ${Upsert.lastProbedDirs.get()})")
      }
      run(() => randStr())
      run(() => randLong())
      run(() => randTs())
      run(() => randDate())
    }
  }

  test("value-column skipping never drops: bounded reads equal the full-scan filter — random value types") {
    // The readSnapshotWhere twin of the key property: for any declared
    // skip-column type and any bounds (including inverted/empty ones
    // and the UTF-8 order edge), pruning on the `.stats` value box
    // must change only which dirs are OPENED — the result always
    // equals filtering the full snapshot. Ground truth is the
    // Spark-evaluated filter itself, so both sides share one
    // comparison semantics and any divergence is the pruning's.
    val trickyStrings = Seq("", "a", "Z", "é",
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x10FFFF)), "née", "ÿ", "😁x")
    trials(3) { rnd =>
      def randStr() =
        if (rnd.nextBoolean()) trickyStrings(rnd.nextInt(trickyStrings.size))
        else rnd.alphanumeric.take(rnd.nextInt(8) + 1).mkString
      def randLong() = rnd.nextLong() % 1000000L
      def randTs() = new java.sql.Timestamp(rnd.nextLong() % 4102444800000L)
      def randDate() = java.sql.Date.valueOf(java.time.LocalDate
        .ofEpochDay(rnd.nextInt(60000).toLong - 10000))
      def run[T](mk: () => T)(implicit
          enc: org.apache.spark.sql.Encoder[(Long, T)]): Unit = {
        val path = java.nio.file.Files.createTempDirectory("snapskip").toString
        Upsert.declareSkipCols(spark, path, Seq("v"))
        val vals = (0 until 12).map(_ => mk())
        val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        rows.grouped(4).foreach { b =>
          Upsert.writeSnapshot(spark, path, b.toDF("k", "v"),
            Seq("k"), Seq("k"))
        }
        val ver = Upsert.latestVersion(spark, path)
        val lo = vals(rnd.nextInt(vals.size))
        val hi = vals(rnd.nextInt(vals.size))
        val full = Upsert.readSnapshot(spark, path, ver)
          .filter(col("v") >= lit(lo) && col("v") <= lit(hi))
          .as[(Long, T)].collect().toSet
        val got = Upsert.readSnapshotWhere(spark, path, ver,
          Map("v" -> ((lo, hi)))).as[(Long, T)].collect().toSet
        assert(got == full,
          s"bounded read diverged for [$lo, $hi]: missing ${full -- got}, " +
            s"extra ${got -- full} (probed ${Upsert.lastProbedDirs.get()})")
        // The same bounds as a Spark filter on the DSv2 relation: folded
        // by the scan builder, admitted by the Batch scan.
        val viaScan = spark.read.format("graft").load(path)
          .filter(col("v").between(lo, hi)).select("k", "v")
          .as[(Long, T)].collect().toSet
        assert(viaScan == full,
          s"DSv2 filtered read diverged for [$lo, $hi]: missing " +
            s"${full -- viaScan}, extra ${viaScan -- full} " +
            s"(admitted ${Upsert.lastProbedDirs.get()})")
      }
      run(() => randStr())
      run(() => randLong())
      run(() => randTs())
      run(() => randDate())
    }
  }
}

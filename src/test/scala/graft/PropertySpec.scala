package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.dedup.Dedup
import graft.similarity.VectorFunctions._
import graft.text.TextFunctions._

/** Property-style invariants over generated inputs (SURVEY §5 test plan,
  * row 4). Inputs are drawn with ScalaCheck generators into ONE DataFrame
  * per property — per-sample Spark plans would be prohibitively slow.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Seq.iterate(Seq.empty[A] -> Seed(42L), n + 1) { case (acc, seed) =>
      val r = g.doPureApply(Gen.Parameters.default, seed)
      (acc :+ r.retrieve.get) -> r.seed
    }.last._1

  private val word = Gen.oneOf("spark", "row", "agg", "scan", "key", "a",
    "the", "la", "und", "table", "12", "x!")
  private val textGen = for {
    k <- Gen.choose(0, 40)
    ws <- Gen.listOfN(k, word)
    pad <- Gen.oneOf("", " ", "  ")
  } yield pad + ws.mkString(" ") + pad

  test("shingleSetN == array_distinct-of-HOF for generated texts") {
    val df = samples(textGen, 200).toDF("t")
    val bad = df.select(
        array_sort(shingleSet(col("t"), 3)).as("ref"),
        array_sort(shingleSetN(col("t"), 3)).as("nat"))
      .filter(col("ref") =!= col("nat")).count()
    assert(bad === 0)
  }

  test("qualityScore in [0,1] and langId in the closed label set") {
    val df = samples(textGen, 200).toDF("t")
    val bad = df.select(qualityScore(col("t")).as("q"), langId(col("t")).as("l"))
      .filter(col("q") < 0.0 || col("q") > 1.0
        || !col("l").isin("en", "de", "es", "fr", "und")).count()
    assert(bad === 0)
  }

  test("rollingHash stays within [0, 2^31-1) and equals a reference fold") {
    val texts = samples(textGen, 100)
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % HashMod)
    val got = texts.toDF("t").select(col("t"), rollingHash(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    got.foreach { case (t, h) =>
      assert(h === ref(t) && h >= 0 && h < HashMod)
    }
  }

  test("dotN is commutative and matches a local double fold") {
    val vecGen = Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 7.0f))
    val vecs = samples(vecGen, 100).map(_.toArray)
    val df = vecs.zip(vecs.reverse).toSeq.toDF("a", "b")
    val rows = df.select(col("a"), col("b"),
        dotN(col("a"), col("b")).as("ab"), dotN(col("b"), col("a")).as("ba"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[Float](0)
      val b = r.getSeq[Float](1)
      val local = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      assert(r.getDouble(2) === local)
      assert(r.getDouble(3) === local) // multiplication commutes exactly
    }
  }

  test("exact dedup is idempotent and reps are group minima") {
    val dupGen = for {
      t <- textGen; k <- Gen.choose(1, 3)
    } yield (t, k)
    val rows = samples(dupGen, 60).zipWithIndex.flatMap {
      case ((t, k), i) => (0 until k).map(j => (i.toLong * 10 + j, t))
    }
    val df = rows.toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, col("text"), col("doc_id"))
    // every rep maps to itself (idempotence of representative choice)
    val reps = groups.select(col("rep_id")).distinct().as[Long].collect().toSet
    val selfMapped = groups.filter(col("doc_id").isin(reps.toSeq: _*))
      .filter(col("doc_id") =!= col("rep_id")).count()
    assert(selfMapped === 0)
    // rep is the minimum of its group
    val badMin = groups.groupBy(col("rep_id")).agg(min(col("doc_id")).as("mn"))
      .filter(col("rep_id") =!= col("mn")).count()
    assert(badMin === 0)
  }

  test("surrogate keys are injective over distinct natural keys") {
    val df = spark.range(0, 5000).toDF("id")
      .select(graft.functions.keys.surrogateKey(col("id"), lit("x")).as("sk"))
    assert(df.distinct().count() === 5000)
  }

  test("Scratch.ensure prunes only after success and scopes per name") {
    import java.nio.file.Files
    import graft.core.Scratch
    def written(gen: java.nio.file.Path): Unit = {
      Files.createDirectories(gen)
      Files.writeString(gen.resolve("_SUCCESS"), "")
    }
    // Generations resolve under the session's warehouse.
    val wh = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val g1 = Scratch.ensure(spark, "csv/probe", "key1", "_SUCCESS")(written)
    assert(g1 === wh.resolve("_graft_scratch/csv/probe/key1"))
    assert(Files.exists(g1.resolve("_SUCCESS")))
    // Sibling names — one fixture's source, another fixture's, and a
    // `_`-suffixed name (docs vs docs_v2, the flat-layout prefix bug).
    val siblings = Seq("csv_evo/probe", "json/probe", "pqevo/probe",
      "csv/probe_v2", "docs", "docs_v2")
      .map(n => Scratch.ensure(spark, n, "keyX", "_SUCCESS")(written))
    // a FAILED rebuild for a new key leaves the working generation intact
    intercept[RuntimeException] {
      Scratch.ensure(spark, "csv/probe", "key2", "_SUCCESS") { _ =>
        throw new RuntimeException("transient write failure")
      }
    }
    assert(Files.exists(g1.resolve("_SUCCESS")),
      "failed rebuild destroyed the previous working generation")
    // a write that completes WITHOUT the marker must not prune either
    Scratch.ensure(spark, "csv/probe", "key2", "_SUCCESS") { gen =>
      Files.createDirectories(gen)
    }
    assert(Files.exists(g1.resolve("_SUCCESS")),
      "markerless write pruned the previous working generation")
    // a successful rebuild prunes the stale generation, and only it
    val g2 = Scratch.ensure(spark, "csv/probe", "key2", "_SUCCESS")(written)
    assert(!Files.exists(g1), "stale generation survived a successful rebuild")
    assert(Files.exists(g2.resolve("_SUCCESS")))
    siblings.foreach(g =>
      assert(Files.exists(g.resolve("_SUCCESS")), s"sibling $g was pruned"))
    assert(siblings.map(_.getParent).distinct.size === siblings.size)
    val g2Again = Scratch.ensure(spark, "csv/probe", "key2", "_SUCCESS")(written)
    assert(g2Again == g2)
    // derivation change changes the key (source unchanged)
    val k1 = graft.core.Scratch.key(spark, Sf0001, "schema-v1")
    val k2 = graft.core.Scratch.key(spark, Sf0001, "schema-v2")
    assert(k1 != k2)
    assert(k1.takeWhile(_ != '-') == k2.takeWhile(_ != '-'))
  }

  test("ZOrderCode: per-coordinate monotone, injective, prefix-local") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def z(rs: Seq[Long]): Long =
      graft.functions.ZOrderCode(rs.map(r => Literal(r)))
        .eval(null).asInstanceOf[Long]
    val rank = Gen.choose(0L, 65535L)
    val tupleGen = for {
      k <- Gen.choose(1, 4)
      rs <- Gen.listOfN(k, rank)
    } yield rs
    val tuples = samples(tupleGen, 400)
    // monotone in every coordinate (others fixed) — the property that
    // makes a z-range constrain each column to a range
    for (rs <- tuples; j <- rs.indices) {
      val bumped = samples(rank.suchThat(_ != rs(j)), 1).head
      val other = rs.updated(j, bumped)
      assert((z(other) > z(rs)) === (bumped > rs(j)),
        s"not monotone at coord $j: $rs vs $other")
    }
    // injective over masked tuples (grouped per arity — the code width
    // is 16k bits)
    tuples.groupBy(_.length).foreach { case (_, ts) =>
      val distinctTs = ts.distinct
      assert(distinctTs.map(z).distinct.size === distinctTs.size)
    }
    // prefix locality: agreeing on the top b bits of EVERY coordinate
    // forces agreement on the top k*b bits of the code — exactly why
    // a contiguous z-range yields tight per-column min/max file stats
    val cases = samples(for {
      k <- Gen.choose(1, 4)
      b <- Gen.choose(1, 15)
      hi <- Gen.listOfN(k, rank)
      lo1 <- Gen.listOfN(k, rank)
      lo2 <- Gen.listOfN(k, rank)
    } yield (k, b, hi, lo1, lo2), 200)
    for ((k, b, hi, lo1, lo2) <- cases) {
      def mix(lo: Seq[Long]) = hi.lazyZip(lo).map((h, l) =>
        (h & (0xFFFFL << (16 - b)) & 0xFFFFL) | (l & ((1L << (16 - b)) - 1)))
      val shift = 16 * k - k * b
      assert((z(mix(lo1)) >> shift) === (z(mix(lo2)) >> shift),
        s"prefix locality broken at k=$k b=$b")
    }
  }

  test("deletion vectors compose: sequential deletes == one disjunction") {
    import graft.storage.DeletionVectors
    val preds = Seq(
      (col("id") % 7 === 0, col("id") % 11 === 3),
      (col("id") > 400, col("id") % 2 === 0),
      (col("id") < 0, col("id").between(100, 120))) // incl. empty delete
    for (((p1, p2), i) <- preds.zipWithIndex) {
      val tbl = s"dv_prop_$i"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.range(0, 500).select(col("id"), (col("id") * 2).as("v"))
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      DeletionVectors.delete(spark, tbl, p1)
      DeletionVectors.delete(spark, tbl, p2)
      val visible = DeletionVectors.read(spark, tbl)
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = spark.table(tbl).filter(!p1 && !p2)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(visible === expected, s"case $i diverged")
    }
  }

  test("substringDedup: survivors are token subsequences, counts " +
      "reconcile, and an all-distinct corpus passes through unchanged") {
    val corpus = samples(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = corpus.toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, col("text"), col("doc_id"), k = 3)
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val orig = corpus.map { case (id, t) =>
      id -> t.trim.split(" +").filter(_.nonEmpty).toSeq
    }.toMap
    out.foreach { case (id, (clean, n)) =>
      val toks = clean.split(" ").filter(_.nonEmpty).toSeq
      assert(toks.size.toLong === n, s"doc $id count mismatch")
      // clean tokens must be a SUBSEQUENCE of the original tokens.
      var i = 0
      orig(id).foreach { t => if (i < toks.size && toks(i) == t) i += 1 }
      assert(i === toks.size, s"doc $id output is not a subsequence")
    }
    // Absent docs either never had a token (nothing to emit) or lost
    // every position to coverage — which needs at least k tokens; a doc
    // with 1..k-1 tokens has no windows and must survive whole.
    (orig.keySet -- out.keySet).foreach { id =>
      assert(orig(id).isEmpty || orig(id).size >= 3,
        s"doc $id vanished with 1..k-1 tokens")
    }
    // An all-distinct corpus (every window unique by construction:
    // per-doc nonce token between every word) passes through unchanged.
    val distinct = (0L until 30L)
      .map(i => (i, (0 until 10).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val untouched = Dedup.substringDedup(distinct, col("text"),
      col("doc_id"), k = 3).count()
    assert(untouched === 30L)
  }

  test("KmvAggregator: sketch == k smallest distinct values under any " +
      "insert/merge partition") {
    val k = 8
    val agg = new graft.functions.KmvAggregator(k)
    val valGen = Gen.choose(0L, 200L)
    val inputs = samples(Gen.listOfN(60, valGen), 20)
    for (xs <- inputs) {
      val expect = xs.distinct.sorted.take(k)
      // sequential reduce
      val seq = xs.foldLeft(agg.zero)(agg.reduce).mins.toSeq
      assert(seq === expect, s"reduce path diverged for $xs")
      // arbitrary two-way merge partitions (the map-side combine path)
      for (cut <- Seq(0, 1, xs.length / 2, xs.length - 1, xs.length)) {
        val (l, r) = xs.splitAt(cut)
        val merged = agg.merge(
          l.foldLeft(agg.zero)(agg.reduce),
          r.foldLeft(agg.zero)(agg.reduce)).mins.toSeq
        assert(merged === expect, s"merge at $cut diverged for $xs")
        // commutativity
        val swapped = agg.merge(
          r.foldLeft(agg.zero)(agg.reduce),
          l.foldLeft(agg.zero)(agg.reduce)).mins.toSeq
        assert(swapped === expect)
      }
    }
    // duplicates never occupy two slots
    val dup = Seq.fill(50)(7L) ++ Seq(3L, 9L)
    assert(dup.foldLeft(agg.zero)(agg.reduce).mins.toSeq === Seq(3L, 7L, 9L))
  }

  test("MedianMadHistogram: estimates are partition-invariant under any " +
      "merge cut and land within half a bucket of the exact median") {
    val w = 4.0
    val buckets = 64
    val agg = new graft.functions.MedianMadHistogram(w, buckets)
    val valGen = Gen.choose(0.0, 250.0)
    val inputs = samples(Gen.listOfN(101, valGen), 20)
    for (xs <- inputs) {
      val expect = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
      assert(expect.n === xs.length.toLong)
      // The bucket-midpoint median is within w/2 of the exact lower
      // median (the resolution contract the scaladoc sells).
      val lowerMed = xs.sorted.apply((xs.length - 1) / 2)
      assert(math.abs(expect.median_est - lowerMed) <= w / 2 + 1e-9,
        s"median_est ${expect.median_est} vs exact $lowerMed")
      assert(expect.mad_est >= 0.0)
      // Any two-way merge partition (the map-side combine path) must
      // produce the identical estimate — merge mutates its left arg,
      // so every cut builds fresh buffers.
      for (cut <- Seq(0, 1, xs.length / 2, xs.length - 1, xs.length)) {
        val m = agg.merge(
          xs.take(cut).foldLeft(agg.zero)(agg.reduce),
          xs.drop(cut).foldLeft(agg.zero)(agg.reduce))
        assert(agg.finish(m) === expect, s"merge at $cut diverged")
      }
    }
    // Saturation: everything past the top bucket clamps into it.
    val sat = Seq(1e9, 2e9, 5.0).foldLeft(agg.zero)(agg.reduce)
    val est = agg.finish(sat)
    assert(est.median_est === (buckets - 1) * w + w / 2)
    // Empty group: defined (NaN markers), never a crash.
    val empty = agg.finish(agg.zero)
    assert(empty.n === 0L && empty.median_est.isNaN)
  }
}

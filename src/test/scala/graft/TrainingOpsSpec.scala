package graft

import graft.queries.{Documents, Events, Pipeline, Replication, Vectors}
import org.apache.spark.sql.functions._

/** Round-4 training-data operators: duplicated-substring spans (d16),
  * stratified sampling (d17), interval join (w10), token-budget packing
  * (p6). Each is checked against an independently computed expected —
  * hand-built corpora for the span semantics, a naive quadratic join for
  * the bucketed interval join — plus the determinism/partition-
  * independence invariants the operators promise.
  */
class TrainingOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Write an inline documents corpus to a temp fixture dir. */
  private def corpusDir(texts: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("docs_fixture").toString
    texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Unique filler tokens that can never collide across docs. */
  private def filler(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$tag$i")

  test("d16: cross-doc duplicated 8-gram runs merge into maximal spans") {
    val shared = (0 until 12).map(i => s"dup$i") // 12-token shared block
    val blockA = (0 until 9).map(i => s"blka$i") // two separated 9-token blocks
    val blockB = (0 until 9).map(i => s"blkb$i")
    val doc1 = filler("a", 4) ++ shared ++ filler("b", 14) // shared at pos 5..16
    val doc2 = filler("c", 2) ++ shared ++ filler("d", 6) // shared at pos 3..14
    val doc3 = blockA ++ filler("e", 10) ++ blockB // two spans, gap 10 > 8
    val doc4 = blockB ++ filler("f", 12) ++ blockA
    val doc5 = filler("g", 30) // shares nothing
    val dir = corpusDir(Seq(
      1L -> doc1.mkString(" "), 2L -> doc2.mkString(" "),
      3L -> doc3.mkString(" "), 4L -> doc4.mkString(" "),
      5L -> doc5.mkString(" ")))
    val got = Documents.d16SubstringSpans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 12 shared tokens -> 8-gram starts s..s+4 -> one merged span of 12
    assert(got === Array(
      (1L, 5L, 16L, 12L), (2L, 3L, 14L, 12L),
      (3L, 1L, 9L, 9L), (3L, 20L, 28L, 9L), // two spans, NOT merged across the gap
      (4L, 1L, 9L, 9L), (4L, 22L, 30L, 9L)))
  }

  test("d16: within-doc repeats of a single-doc k-gram do not mark spans") {
    // the same 8-gram twice in ONE doc is not cross-doc duplication
    val block = (0 until 8).map(i => s"rep$i")
    val dir = corpusDir(Seq(
      1L -> (block ++ filler("x", 10) ++ block).mkString(" "),
      2L -> filler("y", 20).mkString(" ")))
    assert(Documents.d16SubstringSpans(spark, dir).count() === 0)
  }

  test("d16: adjacent marked blocks merge across a zero-gap boundary") {
    // doc1 shares block P with doc2 and the IMMEDIATELY FOLLOWING block Q
    // with doc3; the two marked regions touch, so doc1 gets ONE span
    val p = (0 until 8).map(i => s"p$i")
    val q = (0 until 8).map(i => s"q$i")
    val dir = corpusDir(Seq(
      1L -> (p ++ q).mkString(" "),
      2L -> (filler("u", 3) ++ p).mkString(" "),
      3L -> (q ++ filler("v", 3)).mkString(" ")))
    val got = Documents.d16SubstringSpans(spark, dir)
      .filter(col("doc_id") === 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 16L, 16L)))
  }

  test("d18: clipping removes exactly the spanned tokens; untouched docs are absent") {
    val shared = (0 until 12).map(i => s"dup$i")
    val doc1 = filler("a", 4) ++ shared ++ filler("b", 14) // span 5..16
    val doc2 = filler("c", 2) ++ shared ++ filler("d", 6) // span 3..14
    val doc5 = filler("g", 30)
    val dir = corpusDir(Seq(
      1L -> doc1.mkString(" "), 2L -> doc2.mkString(" "), 5L -> doc5.mkString(" ")))
    val got = Documents.d18ClipSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val clipped1 = (filler("a", 4) ++ filler("b", 14)).mkString(" ")
    val clipped2 = (filler("c", 2) ++ filler("d", 6)).mkString(" ")
    assert(got === Array(
      (1L, 30L, 18L, md5hex(clipped1)),
      (2L, 20L, 8L, md5hex(clipped2))))
  }

  test("d18: a fully-duplicated doc clips to the empty string") {
    val block = (0 until 10).map(i => s"z$i")
    val dir = corpusDir(Seq(
      1L -> block.mkString(" "),
      2L -> (filler("h", 5) ++ block ++ filler("k", 5)).mkString(" ")))
    val row1 = Documents.d18ClipSpans(spark, dir)
      .filter(col("doc_id") === 1).collect().head
    assert(row1.getLong(2) === 0L) // n_kept
    // md5 of the empty string — both engines must agree here (the
    // DuckDB array_to_string([]) NULL trap)
    assert(row1.getString(3) === "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("v10: cell memberships partition the corpus; centroid dims complete") {
    val out = graft.queries.Vectors.v10KmeansIter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = Tables.load(spark, sf, "embeddings").count()
    // per-cell membership is constant across its dims and sums to N
    val perCell = out.groupBy(_._1).map { case (c, rows) =>
      assert(rows.map(_._4).distinct.length === 1, s"cell $c n_members varies by dim")
      assert(rows.map(_._2).sorted === (1L to 8L).toArray, s"cell $c dims incomplete")
      rows.head._4
    }
    assert(perCell.sum === total)
  }

  test("v11/v12/v13: Lloyd chain reaches its fixed point; learned-PQ and IVF-PQ measure recall in-query") {
    val V = graft.queries.Vectors
    try {
      val trace = V.v11KmeansConverged(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(trace.length === V.KmeansIters)
      assert(trace.map(_._1).toSeq === (1L to V.KmeansIters).toSeq)
      assert(trace.last._3 === 0L, "chain did not reach its fixed point")
      assert(trace.sliding(2).forall(p => p(1)._2 <= p(0)._2),
        "assignment inertia increased between rounds")
      // v12/v13: 3 ADC-ranked rows per query, hit flags are 0/1, and
      // recall is measured in-query (at least one exact-top-3 hit
      // overall — the fixture's clusters make a zero-hit result a bug)
      for (name <- Seq("v12_pq_learned", "v13_ivfpq")) {
        val rows = SparkEntry.queries(name)(spark, sf).collect()
        assert(rows.length === 30, s"$name returned ${rows.length} rows")
        val hits = rows.map(_.getLong(5))
        assert(hits.forall(h => h == 0L || h == 1L), s"$name hit flag out of range")
        assert(hits.sum > 0, s"$name measured zero recall")
      }
    } finally graft.operators.PersistedIndex.dropAll(spark, "graft_kmeans_cent")
  }

  test("the Lloyd chain scales in K: a 256-cell codebook trains at sf0.1") {
    // SURVEY known gap closed by measurement: K is config, not the 10
    // fixture labels — hash-shard init at K=256 over the sf0.1 corpus
    // (2000 vectors), 4 rounds. What must hold: the trace is complete,
    // inertia never increases (Lloyd's invariant at any K), the live
    // cell count actually reflects the larger codebook, and no round
    // loses vectors (memberships re-partition the corpus each round).
    val trace = graft.queries.Vectors
      .kmeansChainK(spark, "/root/testdata/sf0.1", k = 256, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(trace.map(_._1).toSeq === (1L to 4L).toSeq)
    assert(trace.sliding(2).forall(p => p(1)._2 <= p(0)._2),
      "inertia increased between rounds at K=256")
    assert(trace.forall(t => t._4 > 64 && t._4 <= 256),
      s"live cell count ${trace.map(_._4).toSeq} does not reflect K=256")
  }

  test("v14: every planted clone pairs with its original; keeper is the min id") {
    val out = graft.queries.Vectors.v14SemDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty, "no duplicate groups found")
    // each group: one keep=1 row whose vec_id IS the cluster_id
    out.groupBy(_._1).foreach { case (cid, rows) =>
      val keeps = rows.filter(_._4 == 1L)
      assert(keeps.length === 1 && keeps.head._2 === cid,
        s"cluster $cid keeper rule violated")
      assert(rows.forall(_._3 == rows.length), s"cluster $cid size mismatch")
    }
    // the planted structure: clusters are (original, original+1M) pairs
    assert(out.count(_._4 == 0L) === out.count(_._4 == 1L))
    assert(out.filter(_._4 == 0L).forall(r => r._2 >= 1000000L),
      "a non-keeper below the clone offset — an unrelated pair crossed 0.95")
  }

  test("v15: JL projection preserves every planted clone at rank 1") {
    val rows = graft.queries.Vectors.v15RandomProjection(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._1).distinct.length === 10, "expected 10 query vectors")
    rows.filter(_._2 == 1L).foreach { case (qid, _, cid, pcos, hit) =>
      assert(cid === qid + 1000000L,
        s"query $qid rank-1 is $cid, not its planted clone")
      assert(hit === 1L, s"query $qid clone missing from the exact top-5")
      assert(pcos > 0.99, s"query $qid clone projected cosine $pcos")
    }
  }

  test("d22: rarest language keeps everything; rates flatten monotonically") {
    val rows = graft.queries.Documents.d22TemperatureMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val minN = rows.map(_._2).min
    rows.foreach { case (lang, n, rate, kept) =>
      if (n == minN) assert(rate === 1000L, s"rarest lang $lang rate $rate")
      assert(kept <= n)
      // tau=1/2: a larger language never gets a larger rate
      rows.foreach { case (_, n2, rate2, _) =>
        if (n2 > n) assert(rate2 <= rate, s"flattening not monotone: " +
          s"n=$n rate=$rate vs n=$n2 rate=$rate2")
      }
    }
  }

  test("w12: sketch sample is ~1/8 and its p50 lands near the exact median") {
    val rows = graft.queries.Events.w12QuantileSketch(spark, sf).collect()
    rows.foreach { r =>
      val (n, ns) = (r.getLong(1), r.getLong(2))
      // binomial(n, 1/8): crude 4-sigma sanity band
      val sd = math.sqrt(n * 0.125 * 0.875)
      assert(math.abs(ns - n * 0.125) <= 4 * sd + 1,
        s"${r.getString(0)}: sampled $ns of $n")
      val (p50e, p50s) = (r.getDouble(3), r.getDouble(5))
      val spread = r.getDouble(4) - p50e // p95 - p50 as a scale yardstick
      assert(math.abs(p50s - p50e) <= math.max(spread, 1e-9),
        s"${r.getString(0)}: sketch median $p50s vs exact $p50e")
    }
  }

  test("p8: every planted clone flags its benchmark source at est 1.0") {
    val rows = graft.queries.Documents.p8FuzzyDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val flagged = rows.map(_._1).toSet
    // every planted clone (bench doc + 2000000) must be flagged, at 1.0
    val clones = rows.filter(_._1 >= 2000000L)
    assert(clones.nonEmpty, "no planted clone was flagged")
    clones.foreach { case (id, _, mx) =>
      assert(mx === 1.0, s"clone $id flagged below 1.0: $mx") }
    // benchmark docs themselves never appear on the train side
    assert(!flagged.exists(id => id % 50 == 0 && id < 2000000),
      "a benchmark doc flagged itself")
  }

  test("p9: Bloom pre-filter never loses a p3 contamination; false positives visible") {
    val exact = Pipeline.p3Decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val rows = Pipeline.p9BloomDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a Bloom filter can false-positive but never false-negative, and the
    // exact rescoring join strips the false positives out of n_true_hits —
    // so the docs with a true hit must be EXACTLY p3's contaminated set
    assert(rows.filter(_._3 > 0).map(_._1).toSet === exact,
      "true-hit docs diverge from the exact p3 semi-join")
    rows.foreach { case (id, bloomHits, trueHits, falsePos) =>
      assert(falsePos === bloomHits - trueHits, s"doc $id: accounting broken")
      assert(falsePos >= 0 && trueHits >= 0, s"doc $id: negative counts")
    }
  }

  test("d23: one keeper per cluster, elected by max diversity then min id") {
    val rows = Documents.d23CanonicalKeep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "no near-dup clusters in the fixture")
    val pairs = Documents.d6MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === pairs.flatMap(p => Seq(p._1, p._2)).distinct.length,
      "manifest rows != docs appearing in d6 pairs")
    rows.groupBy(_._1).foreach { case (cid, members) =>
      assert(members.map(_._6).distinct === Array(members.length.toLong),
        s"cluster $cid: cluster_size disagrees with the actual member count")
      assert(members.count(_._5 == 1L) === 1, s"cluster $cid: != 1 keeper")
      val keeper = members.find(_._5 == 1L).get
      assert(members.forall(_._4 == keeper._2),
        s"cluster $cid: keeper_id column disagrees with the kept row")
      // election order: (lex_diversity desc, doc_id asc)
      val expected = members.minBy(m => (-m._3, m._2))
      assert(keeper._2 === expected._2,
        s"cluster $cid: keeper ${keeper._2} is not argmax quality ${expected._2}")
    }
  }

  test("p10: every epoch permutes the full corpus; epochs are independent orders") {
    val rows = Pipeline.p10EpochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L))
    // each epoch covers exactly the corpus, once
    val docSets = byEpoch.map { case (e, rs) => e -> rs.map(_._4).toSet }
    assert(docSets(0L) === docSets(1L), "epochs cover different doc sets")
    assert(byEpoch(0L).length === docSets(0L).size, "a doc appears twice in an epoch")
    // positions are contiguous 1..n within every shard
    rows.groupBy(r => (r._1, r._2)).foreach { case ((e, s), rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length).toSeq,
        s"epoch $e shard $s: positions not contiguous")
    }
    // the two epochs induce genuinely different orders (the salt works):
    // at least one doc lands in different shards across epochs
    val shardOf = rows.groupBy(_._1).map { case (e, rs) =>
      e -> rs.map(r => r._4 -> r._2).toMap }
    assert(docSets(0L).exists(d => shardOf(0L)(d) != shardOf(1L)(d)),
      "epoch salt changed no shard assignment at all")
  }

  test("d24: every rule fires; the mask agrees with d3 and d19") {
    val rows = Documents.d24QualityGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = rows.map(r => r._1 -> r._2).toMap
    // every rule rejects someone on the fixture, and some docs survive —
    // a rule that can't fire (or a gate that keeps nothing) is untested
    (0 until 5).foreach(i => assert(rows.exists(r => (r._2 & (1L << i)) != 0),
      s"rule $i never fired"))
    assert(rows.exists(_._4 == 1L) && rows.exists(_._4 == 0L))
    rows.foreach { case (id, mask, nf, keep) =>
      assert(nf === java.lang.Long.bitCount(mask).toLong, s"doc $id bit count")
      assert(keep === (if (mask == 0) 1L else 0L), s"doc $id keep flag")
    }
    // bits 0+3 are exactly d3's filter: its output docs pass both
    val d3Docs = Documents.d3QualityScore(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(rows.filter(r => (r._2 & 9L) == 0).map(_._1).toSet === d3Docs,
      "length+diversity bits disagree with d3's filter")
    // bit 4 is exactly d19's dup_frac thresholded (d19 emits only n>=3 docs)
    Documents.d19DupNgramFraction(spark, sf).collect().foreach { r =>
      val (id, frac) = (r.getLong(0), r.getDouble(3))
      assert(((byDoc(id) & 16L) != 0) === (frac > 0.05),
        s"doc $id: repetition bit disagrees with d19 frac $frac")
    }
  }

  test("w13: funnel equals the naive per-user greedy chain") {
    val rows = Events.w13Funnel(spark, sf).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))).toMap
    // naive recompute from the raw events (small fixture)
    val ev = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    ev.groupBy(_._1).foreach { case (u, es) =>
      def firstAfter(tpe: String, after: Option[Long]): Option[Long] =
        after.flatMap(a => es.filter(e => e._2 == tpe && e._3 > a)
          .map(_._3).sorted.headOption)
      val t1 = es.filter(_._2 == "view").map(_._3).sorted.headOption
      val t2 = firstAfter("click", t1)
      val t3 = firstAfter("purchase", t2)
      val steps = Seq(t1, t2, t3).takeWhile(_.isDefined).length.toLong
      assert(rows(u) === ((t1, t2, t3, steps)), s"user $u funnel mismatch")
    }
    assert(rows.keySet === ev.map(_._1).toSet)
  }

  test("r9: SCD2 intervals tile each key's timeline and agree with r1's FINAL view") {
    val rows = graft.queries.Replication.r9Scd2History(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, iv) =>
      val s = iv.sortBy(_._2)
      // half-open intervals tile: each ver_to is the next ver_from
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3.contains(b._2), s"user $u: gap/overlap at ${a._2}")
        case _ =>
      }
      assert(s.last._3.isEmpty, s"user $u: last interval not open")
      assert(s.init.forall(_._3.isDefined), s"user $u: closed interval missing ver_to")
    }
    // the open non-deleted intervals ARE r1's latest-wins FINAL view
    val current = rows.filter(_._4 == 1L).map(_._1).toSet
    val r1Users = graft.queries.Replication.r1ReplicaCurrent(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(current === r1Users, "is_current disagrees with the r1 replica view")
  }

  test("v18: versioned ANN never returns tombstoned or stale vectors") {
    val rows = SparkEntry.queries("v18_versioned_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // tombstoned ids (vec_id % 101 == 0, incl. query 0) appear NOWHERE
    rows.foreach { r =>
      assert(r._1 % 101 != 0, s"tombstoned query ${r._1} returned results")
      assert(r._3 % 101 != 0, s"tombstoned candidate ${r._3} surfaced")
    }
    // staleness: a NEGATED (updated) vector must score with its new
    // embedding — recompute its cosine from the raw table and compare
    val raw = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def versioned(id: Long): Array[Double] =
      if (id % 97 == 0) raw(id).map(x => -x) else raw(id)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0d; var na = 0d; var nb = 0d
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.foreach { case (qid, _, cid, c) =>
      assert(math.abs(c - cos(versioned(qid), versioned(cid))) < 1e-9,
        s"($qid,$cid): cosine not computed from the CURRENT versions")
    }
  }

  test("v17: residual IVFADC keeps the v13 contract and measures recall in-query") {
    val rows = SparkEntry.queries("v17_ivfadc_residual")(spark, sf).collect()
    assert(rows.length === 30, s"v17 returned ${rows.length} rows")
    val hits = rows.map(_.getLong(5))
    assert(hits.forall(h => h == 0L || h == 1L), "v17 hit flag out of range")
    assert(hits.sum > 0, "v17 measured zero recall")
    // reconstructions must stay genuine cosines
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9, "adc_cosine out of range")
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9, "true_cosine out of range")
    }
  }

  test("d25: affinity ranks the target domain first and counts bigrams exactly") {
    val rows = Documents.d25DomainAffinity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 25)
    // ranking is strictly ordered (desc affinity, asc doc_id tie-break)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && a._1 < b._1), "ordering violated")
    }
    // the linear discriminator must actually discriminate: the target
    // domain dominates its own top-25
    assert(rows.count(_._2 == "en") >= 20,
      s"top-25 is only ${rows.count(_._2 == "en")}/25 'en' — discriminator broken")
    // n_bigrams is exact per doc
    val expected = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) - 1 AS LONG) AS nb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r._3 === expected(r._1), s"doc ${r._1}: n_bigrams off")
    }
  }

  test("d31: LM quality scores equal an all-integer brute-force replay") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
      .filter(_._3.length >= 2)
    def bigrams(w: Seq[String]) = w.sliding(2).map(_.mkString(" ")).toSeq
    val en = docs.filter(_._2 == "en")
    val model = en.flatMap(d => bigrams(d._3)).groupBy(identity)
      .map { case (g, o) => g -> o.length.toLong }
    val left = model.groupBy(_._1.split(" ")(0)).map { case (w1, m) => w1 -> m.values.sum }
    val v = en.flatMap(_._3).distinct.length.toLong
    val expected = docs.map { case (id, lang, w) =>
      val gs = bigrams(w)
      val liks = gs.map { g =>
        (model.getOrElse(g, 0L) + 1L) * 1000000L /
          (left.getOrElse(g.split(" ")(0), 0L) + v)
      }
      (id, lang, gs.length.toLong, liks.sum / gs.length)
    }.sortBy(r => (r._4, r._1)).take(25)
    val got = Documents.d31LmQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq, "d31 diverges from the integer replay")
    // smoothing keeps every score strictly positive and below certainty
    got.foreach { r =>
      assert(r._4 > 0L && r._4 < 1000000L, s"doc ${r._1}: degenerate likelihood")
    }
  }

  test("d32: the band-width sweep equals an all-pairs replay and the configs nest") {
    import graft.functions.{HashFunctions => H}
    val laneA = (0 until 16).map(i => H.md5NumberBigEndianLocal(s"a:$i") | 1L)
    val laneB = (0 until 16).map(i => H.md5NumberBigEndianLocal(s"b:$i"))
    val sigs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .filter(_._2.length >= 3)
      .map { case (id, w) =>
        val hs = w.sliding(3).map(_.mkString(" ")).toSeq.distinct
          .map(H.md5NumberBigEndianLocal)
        id -> (0 until 16).map(i => hs.map(h => h * laneA(i) + laneB(i)).min)
      }.sortBy(_._1)
    var n2, h2, n4, h4, n8, h8 = 0L
    for (i <- sigs.indices; j <- (i + 1) until sigs.length) {
      val eq = (0 until 16).map(k => sigs(i)._2(k) == sigs(j)._2(k))
      def caught(w: Int) = (0 until 16 / w).exists(b => (b * w until (b + 1) * w).forall(eq))
      if (caught(2)) {
        val hit = if (eq.count(identity) >= 8) 1L else 0L
        n2 += 1; h2 += hit
        if (caught(4)) { n4 += 1; h4 += hit }
        if (caught(8)) { n8 += 1; h8 += hit }
      }
    }
    def row(r: Long, nb: Long, n: Long, h: Long) =
      (r, nb, n, h, if (n == 0) 0L else h * 1000000L / n, if (h2 == 0) 0L else h * 1000000L / h2)
    val expected = Seq(row(2, 8, n2, h2), row(4, 4, n4, h4), row(8, 2, n8, h8))
    val got = Documents.d32LshBandSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expected, "d32 diverges from the all-pairs replay")
    // nesting: wider bands can only lose candidates, never gain
    assert(n8 <= n4 && n4 <= n2, "band nesting violated")
    assert(n2 > 0 && h2 > 0, "sweep is vacuous on the fixture")
  }

  test("d33: the encode profile equals a true greedy-merge replay") {
    // TRUE greedy semantics (scan left-to-right, merge non-overlapping
    // occurrences) — independently re-validates the two-pass replace
    // trick at encode time, not just at training time
    def applyMerge(sy: List[String], l: String, r: String): List[String] = sy match {
      case a :: b :: rest if a == l && b == r => (a + b) :: applyMerge(rest, l, r)
      case a :: rest => a :: applyMerge(rest, l, r)
      case Nil => Nil
    }
    val merges = Documents.d29BpeTrain(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    def encode(word: String): Int =
      merges.foldLeft(word.map(_.toString).toList) {
        case (sy, (l, r)) => applyMerge(sy, l, r)
      }.length
    val docRows = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").filter(_.nonEmpty)))
    val expected = docRows.groupBy(_._2).map { case (lang, ds) =>
      val words = ds.flatMap(_._3)
      val nb = words.map(encode(_).toLong).sum
      val nc = words.map(_.length.toLong).sum
      (lang, ds.length.toLong, words.length.toLong, nb,
        nb * 1000000L / words.length, nc * 1000000L / nb)
    }.toSeq.sortBy(_._1)
    val got = Documents.d33BpeEncode(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expected, "d33 diverges from the greedy replay")
    // a symbol is at least a char-merge product: fertility bounds hold
    got.foreach { r =>
      assert(r._5 >= 1000000L, s"${r._1}: a word encodes to less than one symbol")
      assert(r._6 >= 1000000L, s"${r._1}: a symbol holds less than one char")
    }
  }

  test("v21: the truncation sweep equals a brute-force replay and dim-64 is exact") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cosD(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = vecs.filter(_._1 < 10)
    def top3(d: Int): Map[Long, Set[Long]] = queries.map { case (q, qv) =>
      q -> vecs.filter(_._1 != q)
        .map { case (c, cv) => (c, cosD(qv, cv, d)) }
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    }.toMap
    val exact = top3(64)
    val dims = Seq(8, 16, 32, 64)
    val expected = dims.map { d =>
      val t = top3(d)
      val hits = queries.map { case (q, _) => (t(q) & exact(q)).size }.sum.toLong
      (d.toLong, hits, hits.toDouble / (3.0 * queries.length), queries.length.toLong)
    }
    val got = Vectors.v21MatryoshkaSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === expected, "v21 diverges from the brute-force replay")
    assert(got.last._3 === 1.0, "the d=64 control row must be exact recall")
  }

  test("w17: the transition matrix equals a per-user ordered replay") {
    val evs = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) tus", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e._2, e._3)).sliding(2).collect {
        case Array(a, b) if b._2 - a._2 < 4L * 3600 * 1000000 => (a._4, b._4, u)
      }
    }
    val expected = trans.groupBy(t => (t._1, t._2)).map { case ((f, t), g) =>
      (f, t, g.size.toLong, g.map(_._3).distinct.size.toLong)
    }.toSeq.sortBy(r => (r._1, r._2))
    val got = Events.w17TransitionMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected, "w17 diverges from the ordered replay")
    assert(got.nonEmpty && got.map(_._3).sum === trans.size.toLong)
  }

  test("w19: last-touch attribution equals a per-user sequential replay") {
    val gap = 4L * 3600 * 1000000
    val evs = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) tus", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val purchases = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      // the query's window order: (us, touches-first, event_id)
      val sorted = es.sortBy(e =>
        (e._2, if (e._4 == "click" || e._4 == "view") 0 else 1, e._3))
      var lastKey = Long.MinValue
      sorted.flatMap { e =>
        val out = if (e._4 == "purchase") {
          if (lastKey == Long.MinValue || e._2 - lastKey / 8 > gap)
            Some(("none", e._5, None: Option[Long]))
          else Some((if (lastKey % 8 == 2) "click" else "view", e._5,
            Some(e._2 - lastKey / 8)))
        } else None
        if (e._4 == "click") lastKey = math.max(lastKey, e._2 * 8 + 2)
        if (e._4 == "view") lastKey = math.max(lastKey, e._2 * 8 + 1)
        out
      }
    }
    val expected = purchases.groupBy(_._1).map { case (tt, g) =>
      val lags = g.flatMap(_._3)
      (tt, g.size.toLong,
        g.map(p => BigDecimal(p._2).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble,
        if (lags.isEmpty) None else Some(lags.sum / lags.size))
    }.toSeq.sortBy(_._1)
    val got = Events.w19LastTouch(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.toSeq === expected, "w19 diverges from the sequential replay")
    // every purchase is attributed exactly once
    assert(got.map(_._2).sum === evs.count(_._4 == "purchase").toLong)
  }

  test("d36: source overlap equals a brute-force replay and nests correctly") {
    val bySrc = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq, r.getString(2)))
      .filter(_._2.length >= 3)
      .map { case (_, w, src) =>
        (src, w.sliding(3).map(_.mkString(" ")).toSet)
      }
    val postings = bySrc.groupBy(_._1).view.mapValues(_.map(_._2.size).sum.toLong)
    val srcVocab = bySrc.groupBy(_._1).view
      .mapValues(_.map(_._2).reduce(_ ++ _))
    val srcCount = srcVocab.values.flatten.groupBy(identity).view
      .mapValues(ss => srcVocab.count(_._2.contains(ss.head)))
    val expected = srcVocab.toSeq.sortBy(_._1).map { case (src, vocab) =>
      val excl = vocab.count(s => srcCount(s) == 1).toLong
      (src, postings(src), vocab.size.toLong, excl,
        excl * 1000000L / vocab.size)
    }
    val got = Documents.d36SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected, "d36 diverges from the replay")
    // exclusivity nests inside the vocabulary: excl <= distinct <= postings
    got.foreach { r =>
      assert(r._4 <= r._3 && r._3 <= r._2, s"${r._1}: counts do not nest")
    }
  }

  test("v23: staleness churn conserves and survivors are accounted exactly") {
    val rows = Vectors.v23IndexStaleness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val nVec = graft.Tables.load(spark, sf, "embeddings").count()
    val ids = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id").collect().map(_.getLong(0))
    // base assignment covers the corpus; current covers the survivors
    assert(rows.map(_._2).sum === nVec, "n_base must cover every vector")
    assert(rows.map(_._3).sum === ids.count(_ % 101 != 0).toLong,
      "n_cur must cover exactly the undeleted vectors")
    // every vector that left one cell arrived in another
    assert(rows.map(_._6).sum === rows.map(_._7).sum, "out/in must conserve")
    // only updated survivors can move; deletions shrink, not migrate
    assert(rows.map(_._6).sum <= ids.count(i => i % 97 == 0 && i % 101 != 0).toLong)
    rows.foreach { r =>
      assert(r._8 >= 0 && (r._6 + r._7 > 0) == (r._8 > 0),
        s"cell ${r._1}: churn_ppm inconsistent with move counts")
    }
  }

  test("q28: the correlated scalar subquery equals its manual decorrelation") {
    import org.apache.spark.sql.functions.{avg, broadcast, col}
    val li = graft.Tables.load(spark, sf, "lineitem")
    val pk = graft.Tables.load(spark, sf, "part")
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    val thr = li.groupBy(col("l_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("thr"))
    val manual = li.join(broadcast(pk), li("l_partkey") === pk("p_partkey"))
      .join(thr, Seq("l_partkey"))
      .filter(col("l_quantity") < col("thr"))
      .agg(org.apache.spark.sql.functions.sum(
        col("l_extendedprice").cast("decimal(18,2)")).cast("double")
        .as("avg_yearly_sum"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect()(0)
    val got = graft.queries.Relational
      .q28SmallQtyCorrelated(spark, sf).collect()(0)
    assert(got.getDouble(0) === manual.getDouble(0) / 7.0 &&
      got.getLong(1) === manual.getLong(1),
      "q28 diverges from the manual decorrelation")
    assert(got.getLong(1) > 0, "q28 is vacuous on this fixture")
  }

  test("w20: grouped top-k equals a per-day replay and keeps at most k per day") {
    val evs = graft.Tables.load(spark, sf, "events")
      .selectExpr("CAST(ts AS DATE) day", "event_type", "value").collect()
      .map(r => (r.getDate(0), r.getString(1), r.getDouble(2)))
    val expected = evs.groupBy(e => (e._1, e._2)).map { case ((d, t), g) =>
      (d, t, g.size.toLong,
        g.map(e => BigDecimal(e._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble)
    }.groupBy(_._1).toSeq.flatMap { case (_, grid) =>
      grid.toSeq.sortBy(r => (-r._4, r._2)).take(3).zipWithIndex
        .map { case ((d, t, n, tv), i) => (d, i.toLong + 1, t, n, tv) }
    }.sortBy(r => (r._1.toString, r._2))
    val got = graft.queries.Events.w20GroupedTopk(spark, sf).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expected, "w20 diverges from the per-day replay")
    got.groupBy(_._1).foreach { case (d, g) =>
      assert(g.length <= 3 && g.map(_._2).sorted === (1L to g.length).toSeq,
        s"$d: ranks not dense within the day")
    }
  }

  test("r13: the referential audit reports a closed graph with nested counts") {
    val rows = graft.queries.Replication.r13ReferentialAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length === 7, "one row per FK edge")
    rows.foreach { r =>
      assert(r._6 === 0L && r._7 === 0L,
        s"${r._1}.${r._2}: fixture graph must be closed, found orphans")
      assert(r._4 >= r._5 && r._5 > 0, s"${r._1}.${r._2}: key counts must nest")
    }
    // row conservation against the raw tables: every child row is audited
    val li = graft.Tables.load(spark, sf, "lineitem").count()
    assert(rows.filter(_._1 == "lineitem").forall(_._4 === li))
  }

  test("p17: packing waste equals a replay of p6's bins and conserves tokens") {
    val bins = graft.queries.Pipeline.p6PackBudget(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3))) // (n_docs, bin_tokens)
    val budget = 512L
    val expected = bins.map { case (nd, bt) =>
      val fill = bt * 1000000L / budget
      val band = if (fill < 500000) 0L else if (fill < 750000) 1L
        else if (fill < 1000000) 2L else 3L
      (band, nd, bt, fill)
    }.groupBy(_._1).map { case (b, g) =>
      (b, g.length.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(_._4).sum / g.length)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.Pipeline.p17PackingWaste(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected, "p17 diverges from the bin replay")
    // token conservation: the profile must account for every packed token
    assert(got.map(_._4).sum === bins.map(_._2).sum)
  }

  test("q29: the semi/anti decorrelation equals a manual per-order replay") {
    val li = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("l_orderkey", "l_suppkey",
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) sdus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val ord = graft.Tables.load(spark, sf, "orders")
      .selectExpr("o_orderkey", "o_orderstatus",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) odus").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val sup = graft.Tables.load(spark, sf, "supplier")
      .selectExpr("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cutoffMs = 60L * 24 * 3600 * 1000000L
    val waits = ord.filter(_._2 == "F").flatMap { case (ok, _, od) =>
      val ls = li.getOrElse(ok, Array.empty)
      ls.filter { case (_, sk, sd) =>
        sd > od + cutoffMs &&
          ls.exists(o => o._2 != sk) &&
          !ls.exists(o => o._2 != sk && o._3 > od + cutoffMs)
      }.map(l => sup(l._2))
    }
    val expected = waits.groupBy(identity).map { case (n, g) => (n, g.size.toLong) }
      .toSeq.sortBy(r => (-r._2, r._1)).take(10)
    val got = graft.queries.Relational.q29WaitingOrders(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === expected, "q29 diverges from the per-order replay")
    assert(got.nonEmpty, "q29 is vacuous on this fixture")
  }

  test("p15: the resume manifest equals a replay of the epoch-1 order") {
    import graft.functions.{HashFunctions => H}
    val ids = graft.Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val keyed = ids.map(id => (id, H.md5NumberBigEndianLocal(s"ep:1:$id")))
    val byShard = keyed.groupBy { case (_, k) => java.lang.Math.floorMod(k, 8L) }
    val ordered = byShard.map { case (s, g) =>
      s -> g.sortBy { case (id, k) => (k, id) }.zipWithIndex
        .map { case ((id, _), i) => (id, i.toLong + 1) } // 1-based pos
    }
    val total = ids.length.toLong
    val cut = total * 2 / 5
    var off = 0L
    val expected = ordered.toSeq.sortBy(_._1).map { case (s, g) =>
      val rem = g.filter { case (_, pos) => off + pos - 1 >= cut }
      val row = (s, g.length.toLong, g.length.toLong - rem.length,
        rem.length.toLong,
        if (rem.isEmpty) None else Some(rem.map(_._2).min), cut)
      off += g.length
      row
    }
    val got = graft.queries.Pipeline.p15ResumeSlice(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    assert(got.toSeq === expected, "p15 diverges from the ordered replay")
    // conservation: remaining docs across shards = total - resume step
    assert(got.map(_._4).sum === total - cut)
  }

  test("d34: the df profile equals a brute-force replay and conserves postings") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .filter(_._2.length >= 3)
    val dfs = docs.flatMap { case (_, w) =>
      w.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }.groupBy(identity).map(_._2.length.toLong).toSeq
    def band(df: Long) =
      if (df == 1) 0L else if (df <= 4) 1L else if (df <= 16) 2L
      else if (df <= 64) 3L else 4L
    val total = dfs.map(d => d * (d - 1) / 2).sum
    val expected = dfs.groupBy(band).map { case (b, g) =>
      val pv = g.map(d => d * (d - 1) / 2).sum
      (b, g.size.toLong, g.sum, pv, if (total == 0) 0L else pv * 1000000L / total)
    }.toSeq.sortBy(_._1)
    val got = Documents.d34DfProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected, "d34 diverges from the replay")
    // conservation: postings across bands = total distinct (doc, shingle)
    assert(got.map(_._3).sum === dfs.sum)
    // the cap's justification must be visible on the adversarial fixture
    assert(got.map(_._4).sum === total && total > 0)
  }

  test("v22: int8 ANN scores are exact integers matching a code replay") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val dims = 64
    val mns = (0 until dims).map(i => vecs.map(_._2(i)).min)
    val mxs = (0 until dims).map(i => vecs.map(_._2(i)).max)
    def code(v: Array[Double]): Array[Long] = (0 until dims).map { i =>
      val c = if (mxs(i) > mns(i))
        math.min(255.0, math.max(0.0, math.floor((v(i) - mns(i)) * 255.0 / (mxs(i) - mns(i)))))
      else 0.0
      c.toLong - 128L
    }.toArray
    val codes = vecs.map { case (id, v) => id -> code(v) }.toMap
    val expectedTop = vecs.filter(_._1 < 10).map { case (q, _) =>
      q -> vecs.filter(_._1 != q)
        .map { case (c, _) => (c, (0 until dims).map(i => codes(q)(i) * codes(c)(i)).sum) }
        .sortBy { case (c, s) => (-s, c) }.take(3)
    }.toMap
    val got = Vectors.v22Int8Ann(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val exp = expectedTop(q)
      assert(rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq === exp.toSeq,
        s"query $q: int8 ranking diverges from the code replay")
    }
    assert(got.length === 30 && got.map(_._5).sum > 0,
      "v22 measured zero recall — quantized ranking degenerate")
  }

  test("d35: estimator calibration equals an all-pairs replay over exact Jaccard") {
    import graft.functions.{HashFunctions => H}
    val laneA = (0 until 16).map(i => H.md5NumberBigEndianLocal(s"a:$i") | 1L)
    val laneB = (0 until 16).map(i => H.md5NumberBigEndianLocal(s"b:$i"))
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .filter(_._2.length >= 3)
      .map { case (id, w) =>
        val sh = w.sliding(3).map(_.mkString(" ")).toSeq.distinct
        val hs = sh.map(H.md5NumberBigEndianLocal)
        (id, sh.toSet,
          (0 until 16).map(i => hs.map(h => h * laneA(i) + laneB(i)).min))
      }.sortBy(_._1)
    val grid = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    for (i <- docs.indices; j <- (i + 1) until docs.length) {
      val (_, sa, ma) = docs(i); val (_, sb, mb) = docs(j)
      val eq = (0 until 16).map(k => ma(k) == mb(k))
      val banded = (0 until 4).exists(b => (b * 4 until b * 4 + 4).forall(eq))
      if (banded) {
        val nm = eq.count(identity).toLong
        val inter = (sa & sb).size.toLong
        val exact = inter * 1000000L / (sa.size + sb.size - inter)
        val est = nm * 1000000L / 16
        val (c, se, sae) = grid.getOrElse(nm, (0L, 0L, 0L))
        grid(nm) = (c + 1, se + exact, sae + math.abs(est - exact))
      }
    }
    val expected = grid.toSeq.sortBy(_._1).map { case (nm, (c, se, sae)) =>
      (nm, c, se / c, sae / c)
    }
    val got = Documents.d35EstCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected, "d35 diverges from the all-pairs replay")
    assert(got.nonEmpty && got.map(_._2).sum > 0)
  }

  test("p16: the dataset card's sections replay from the raw corpus") {
    val rows = graft.queries.Pipeline.p16DatasetCard(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("lang", "source", "text", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2).split(" "), r.getLong(3)))
    assert(rows(("corpus", "n_docs")) === docs.length.toLong)
    assert(rows(("corpus", "n_tokens")) === docs.map(_._3.length.toLong).sum)
    assert(rows(("corpus", "n_chars")) === docs.map(_._4).sum)
    docs.groupBy(_._1).foreach { case (l, g) =>
      assert(rows(("lang", l)) === g.length.toLong, s"lang $l count off")
    }
    docs.groupBy(_._2).foreach { case (s, g) =>
      assert(rows(("source", s)) === g.length.toLong, s"source $s count off")
    }
    val stop = graft.functions.TextFunctions.stopwords.toSet
    assert(rows(("quality", "n_short_docs")) ===
      docs.count(_._3.length < 40).toLong)
    assert(rows(("quality", "n_low_stopword_docs")) ===
      docs.count(d => d._3.count(stop) * 20 < d._3.length).toLong)
    assert(rows(("dedup", "n_exact_dup_groups")) === 0L) // fixture has none
    assert(rows(("dedup", "n_near_dup_pairs")) ===
      graft.queries.Documents.d6MinhashLsh(spark, sf).count())
  }

  test("w18: CMS estimates replay exactly and never underestimate") {
    import graft.functions.{HashFunctions => H}
    val users = graft.Tables.load(spark, sf, "events")
      .select("user_id").collect().map(_.getLong(0))
    def bucket(i: Int, u: Long) = java.lang.Math.floorMod(
      H.md5NumberBigEndianLocal(s"cms:$i:$u"), 256L)
    val cells = users.flatMap(u => (0 until 4).map(i => (i, bucket(i, u))))
      .groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val exact = users.groupBy(identity).map { case (u, g) => u -> g.length.toLong }
    val top = exact.toSeq.sortBy { case (u, c) => (-c, u) }.take(10)
    val expected = top.map { case (u, c) =>
      (u, c, (0 until 4).map(i => cells((i, bucket(i, u)))).min)
    }.map { case (u, c, e) => (u, c, e, e - c) }
    val got = Events.w18CmsHeavyHitters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected, "w18 diverges from the CMS replay")
    got.foreach(r => assert(r._4 >= 0L, s"user ${r._1}: CMS underestimated"))
  }

  test("p11: length buckets match a brute-force replay and conserve docs") {
    val rows = graft.queries.Pipeline.p11LengthBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val lens = graft.Tables.load(spark, sf, "documents")
      .selectExpr("CAST(size(split(text, ' ')) AS LONG) AS n").collect().map(_.getLong(0))
    def bucketOf(n: Long): Long = {
      var b = 1L; while (b < n) b <<= 1; b
    }
    val expected = lens.groupBy(bucketOf).map { case (b, g) =>
      val budget = 16384L
      val rowsPerBatch = budget / b
      val nBatches =
        if (b >= budget) g.length.toLong
        else (g.length + rowsPerBatch - 1) / rowsPerBatch
      (b, g.length.toLong, g.sum, b * g.length, nBatches)
    }.toSet
    assert(rows.toSet === expected, "p11 diverges from brute-force bucketing")
    assert(rows.map(_._2).sum === lens.length.toLong, "p11 loses or invents docs")
    rows.foreach { r =>
      assert((r._1 & (r._1 - 1)) == 0L, s"bucket ${r._1} is not a power of two")
    }
  }

  test("w15: anomaly flags match a brute-force trailing z-score replay") {
    // sf0.001's minute grid is too sparse to flag anything; the sf0.01
    // events table (still small) produces a real anomaly set.
    val sf = "/root/testdata/sf0.01"
    val rows = Events.w15Anomaly(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "fixture produces no anomalies — test is vacuous")
    // brute-force replay: per-type minute grid, trailing-10 integer test
    val grid = graft.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "date_trunc('minute', ts) AS minute")
      .groupBy("event_type", "minute").count().collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val expected = grid.groupBy(_._1).flatMap { case (tpe, g) =>
      val series = g.sortBy(_._2).map(t => (t._2, t._3))
      series.indices.collect {
        case i if i >= 10 => // a full trailing window of 10 active minutes
          val win = series.slice(i - 10, i).map(_._2)
          val (x, s, q) = (series(i)._2, win.sum, win.map(c => c * c).sum)
          val n = 10L
          val flagged =
            if (n * q - s * s == 0) n * x != s
            else (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
          (tpe, series(i)._1, x, s, flagged)
      }.filter(_._5).map(t => (t._1, t._2, t._3, t._4))
    }.toSet
    assert(rows.toSet === expected, "w15 flags diverge from brute-force replay")
  }

  test("w14: retention is 1.0 at day 0 and counts sum to the activity grid") {
    val rows = Events.w14Retention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $c has no day-0 row")
      assert(day0.get._4 === 1.0, s"cohort $c: day-0 retention != 1.0")
      rs.foreach { r =>
        assert(r._4 > 0.0 && r._4 <= 1.0 + 1e-12,
          s"cohort $c offset ${r._2}: retention ${r._4} out of range")
      }
    }
    // total user-day cells must equal the distinct activity grid
    val grid = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "CAST(ts AS DATE) AS day").distinct().count()
    assert(rows.map(_._3).sum === grid, "retention cells lose or invent user-days")
  }

  test("w30: bitmap retention reproduces w14's grid-derived cohort matrix") {
    // same analysis, two formulations: the per-user day mask (bits
    // 0..62 — the sign bit is not part of the encoding) must yield
    // exactly the (cohort, offset, n_users) triples the (user, day)
    // grid yields — the fixture's 30-day span sits fully inside the
    // 63-day horizon, so no truncation excuses a mismatch
    val bitmap = Events.w30BitmapRetention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val gridForm = Events.w14Retention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(bitmap.map(t => (t._1, t._2, t._3)).toSeq === gridForm.toSeq,
      "bitmask formulation diverged from the (user, day) grid formulation")
    val byCohort = bitmap.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      // day 0 is the cohort itself: retention exactly 1e6 ppm
      assert(rs.find(_._2 == 0L).exists(_._4 == 1000000L),
        s"cohort $c day-0 retention_ppm != 1e6")
      // offsets live inside the 64-day mask horizon
      rs.foreach(r => assert(r._2 >= 0L && r._2 <= 62L,
        s"cohort $c offset ${r._2} outside the mask horizon"))
      // the popcount mean is a cohort-level constant, >= 1 active day
      assert(rs.map(_._5).distinct.size === 1,
        s"cohort $c mean_active_days_ppm varies across offsets")
      assert(rs.head._5 >= 1000000L && rs.head._5 <= 63000000L,
        s"cohort $c mean active days ${rs.head._5} ppm out of [1, 63] days")
    }
  }

  test("w11: count-min never underestimates; ranks are contiguous") {
    val rows = graft.queries.Events.w11HeavyHitters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq)
    rows.foreach { case (rank, est, exact, over) =>
      assert(over >= 0L, s"rank $rank: CM estimate $est below exact $exact")
      assert(est - exact === over)
    }
  }

  test("d21: incremental near-dup equals the full rebuild; shard-minted pair surfaces") {
    try {
      val full = Documents.d6MinhashLsh(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val inc = Documents.d21IncrementalNeardup(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(inc === full, "incremental near-dup differs from the full rebuild")
      // planted delta: shard doc 20 clones base doc 1 (new cross-shard
      // pair), base docs 2/3 share a pre-existing near-dup
      val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val dir = corpusDir(Seq(
        1L -> txt, 2L -> (txt + " extra"), 3L -> (txt + " extra"),
        20L -> txt))
      val fullD = Documents.d6MinhashLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val incD = Documents.d21IncrementalNeardup(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(incD === fullD, "planted-delta incremental differs from rebuild")
      assert(incD.contains((1L, 20L)), "the shard-minted pair is missing")
      assert(incD.contains((2L, 3L)), "the pre-existing base pair is missing")
    } finally {
      graft.operators.PersistedIndex.dropAll(spark, "graft_sig_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_delta_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_sig_d6")
    }
  }

  test("d27: BPE pair counts match a brute-force replay with the merge-pick order") {
    val rows = Documents.d27BpeStep(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length === 20)
    // strictly the merge-pick order: count desc, pair asc on ties
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1), "merge order violated")
    }
    val counts = graft.Tables.load(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split(" "))
      .filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (p, n) =>
      assert(counts(p) === n, s"pair '$p': count off")
    }
    val floor = rows.last._2
    assert(counts.values.count(_ > floor) <= 20,
      "a pair more frequent than the top-20 floor was dropped")
  }

  /** Reference greedy BPE in plain Scala: symbol-list merges applied
    * left-to-right non-overlapping — the semantics d29's two-pass
    * string replace must reproduce.
    */
  private def bpeBruteForce(
      vocab: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    var syms: Map[Seq[String], Long] =
      vocab.groupBy { case (w, _) => w.map(_.toString) }
        .map { case (s, m) => s -> m.values.sum }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, n) =>
        s.sliding(2).filter(_.length == 2)
          .foreach(p => counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n)
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((k, l, r, c))
        def apply(s: Seq[String]): Seq[String] = {
          val b = Seq.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
            else { b += s(i); i += 1 }
          }
          b.result()
        }
        syms = syms.groupBy { case (s, _) => apply(s) }
          .map { case (s, m) => s -> m.values.sum }
      }
    }
    out.result()
  }

  test("d29: the trained merge table equals a greedy reference BPE, incl. overlap chains") {
    try {
      // fixture corpus: full equality of the 8-round merge table
      val vocab = graft.Tables.load(spark, sf, "documents")
        .select(col("text")).collect().map(_.getString(0))
        .flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val expected = bpeBruteForce(vocab, 8)
      val got = Documents.d29BpeTrain(spark, sf).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got === expected, "fixture merge table differs from reference BPE")
      // planted overlap chains: back-to-back pair occurrences are the
      // two-pass replace's hard case ("aaaa" must merge to [aa][aa],
      // then [aaaa]; "ababab" interleaves with them)
      val dir = corpusDir(Seq(
        1L -> "aaaa aaaa ababab", 2L -> "aaaa abab aa", 3L -> "baab aab"))
      val pv = Seq("aaaa", "aaaa", "ababab", "aaaa", "abab", "aa", "baab", "aab")
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val pExpected = bpeBruteForce(pv, 8)
      val pGot = Documents.d29BpeTrain(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(pGot === pExpected, "planted overlap corpus diverged from reference BPE")
    } finally graft.operators.PersistedIndex.dropAll(spark, "graft_bpe")
  }

  test("p13: BM25 ranking matches a brute-force replay; structural contract holds") {
    try {
      val texts = graft.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tf = texts.map { case (id, t) =>
        id -> t.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong).toMap
      }.toMap
      val dl = tf.view.mapValues(_.values.sum).toMap
      val nDocs = tf.size.toDouble
      val avgdl = dl.values.sum.toDouble / nDocs
      val df = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
      def score(qid: Long, did: Long): (java.math.BigDecimal, Long) = {
        val common = tf(qid).keySet & tf(did).keySet
        val s = common.toSeq.map { t =>
          val idf = (nDocs - df(t) + 0.5) / (df(t) + 0.5) + 1.0
          val norm = tf(did)(t) * 2.2 /
            (tf(did)(t) + 1.2 * (0.25 + 0.75 * (dl(did) / avgdl)))
          // valueOf goes through Double.toString — the same path Spark's
          // double->decimal cast takes; the raw-binary constructor can
          // round differently at the half-ulp boundary
          java.math.BigDecimal.valueOf(idf * norm)
            .setScale(6, java.math.RoundingMode.HALF_UP)
        }.foldLeft(java.math.BigDecimal.ZERO)(_ add _)
        (s, common.size.toLong)
      }
      val got = Pipeline.p13Bm25Retrieve(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      // structural contract: 5 per query, ranks contiguous, scores
      // descending with doc_id tiebreak, never the query doc itself
      assert(got.map(_._1).distinct.toSeq === Seq(0L, 1L, 2L))
      got.groupBy(_._1).foreach { case (qid, rs) =>
        assert(rs.map(_._2).toSeq === (1L to 5L), s"q$qid ranks not contiguous")
        rs.sliding(2).foreach { case Array(a, b) =>
          assert(a._5 > b._5 || (a._5 == b._5 && a._3 < b._3), s"q$qid order violated")
        }
        assert(!rs.exists(_._3 == qid), s"q$qid returned itself")
      }
      // value contract: every returned (score, n_terms) equals the replay,
      // and no unreturned doc beats the returned floor
      got.foreach { case (qid, _, did, nTerms, sc) =>
        val (expS, expN) = score(qid, did)
        assert(expN === nTerms, s"q$qid d$did n_terms off")
        assert(expS.doubleValue === sc, s"q$qid d$did score off")
      }
      got.groupBy(_._1).foreach { case (qid, rs) =>
        val floor = rs.map(_._5).min
        val better = texts.map(_._1)
          .filter(d => d != qid)
          .count(d => score(qid, d)._1.doubleValue > floor)
        assert(better <= 5, s"q$qid: a doc above the returned floor was dropped")
      }
    } finally {
      graft.operators.PersistedIndex.dropAll(spark, "graft_bm25_idx")
      graft.operators.PersistedIndex.dropAll(spark, "graft_bm25_stats")
    }
  }

  test("p27: RRF fusion is exactly its ranks' arithmetic, consistent with p13, rank-dominant") {
    try {
      val rows = Pipeline.p27RankFusion(spark, sf).collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getDouble(5))
      }
      assert(rows.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
      def contrib(r: Option[Long]): Double =
        r.map(v => 1.0 / (60.0 + v.toDouble)).getOrElse(0.0)
      rows.foreach { case (qid, _, cid, lr, vr, rrf) =>
        assert(cid !== qid, s"q$qid retrieved itself")
        // the fused score IS the emitted ranks' arithmetic — bit-exact
        assert(rrf === contrib(lr) + contrib(vr), s"q$qid c$cid rrf off")
        assert(lr.nonEmpty || vr.nonEmpty,
          s"q$qid c$cid in the fusion without membership in either list")
      }
      rows.groupBy(_._1).foreach { case (qid, rs) =>
        val sorted = rs.sortBy(_._2)
        assert(sorted.map(_._2).toSeq === (1L to sorted.size), s"q$qid ranks not contiguous")
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._6 > b._6 || (a._6 == b._6 && a._3 < b._3), s"q$qid fusion order violated")
          case _ =>
        }
        // rank dominance: better-or-equal in BOTH lists (absent = worst)
        // implies a better fused position — RRF monotonicity, observable
        val inf = Long.MaxValue
        for (a <- sorted; b <- sorted
             if a._4.getOrElse(inf) <= b._4.getOrElse(inf) &&
               a._5.getOrElse(inf) <= b._5.getOrElse(inf) &&
               (a._4.getOrElse(inf) < b._4.getOrElse(inf) ||
                 a._5.getOrElse(inf) < b._5.getOrElse(inf)))
          assert(a._2 < b._2, s"q$qid: c${a._3} dominates c${b._3} but ranks after it")
      }
      // leg consistency: a fused row's lexical rank <= 5 must name the
      // SAME doc p13 puts at that rank (shared scoring code, same
      // tie-break — a drift here means the legs diverged)
      val p13 = Pipeline.p13Bm25Retrieve(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      rows.foreach { case (qid, _, cid, lr, _, _) =>
        lr.filter(_ <= 5).foreach { r =>
          assert(p13((qid, r)) === cid,
            s"q$qid lex rank $r: fusion says c$cid, p13 says c${p13((qid, r))}")
        }
      }
    } finally {
      graft.operators.PersistedIndex.dropAll(spark, "graft_bm25_idx")
      graft.operators.PersistedIndex.dropAll(spark, "graft_bm25_stats")
    }
  }

  test("v28: MMR selection matches a driver-side greedy replay exactly") {
    // independent replay in plain Scala doubles: the sequential
    // left-fold dot is bit-identical to VecDotFold by construction, so
    // the ENTIRE greedy trace (pool, pairwise sims, per-step argmax,
    // tie-breaks) must reproduce value-exact, not approximately
    val vecs = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    val expected = (0L until 10L).flatMap { qid =>
      val pool = vecs.keys.filter(_ != qid).toSeq
        .map(c => (c, cos(qid, c)))
        .sortBy { case (c, rel) => (-rel, c) }.take(20)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
      val remaining = scala.collection.mutable.LinkedHashMap(pool: _*)
      for (step <- 1 to 5) {
        val scored = remaining.toSeq.map { case (c, rel) =>
          val maxSim =
            if (sel.isEmpty) 0.0 else sel.map(s => cos(c, s._3)).max
          (c, rel, 0.7 * rel - (1 - 0.7) * maxSim)
        }
        val (c, rel, mmr) = scored.minBy { case (c, _, m) => (-m, c) }
        sel += ((qid, step.toLong, c, rel, mmr))
        remaining.remove(c)
      }
      sel
    }
    val got = graft.queries.Vectors.v28MmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(got === expected, "MMR trace diverged from the greedy replay")
    // NOTE deliberately NO step-score monotonicity assert: with negative
    // cosines (near-orthogonal fixture vectors) the diversity term
    // −(1−λ)·maxsim is positive, so a later step can legitimately
    // outscore an earlier one — the replay equality above is the
    // invariant, a monotonicity "invariant" would be fixture luck
  }

  test("v29: silhouette matches a driver-side fixed-point replay; s bounded in [-1, 1]") {
    val rows = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    // centroids: the exact nano-fixed-point integer means
    val cents = rows.groupBy(_._2).map { case (lbl, vs) =>
      lbl -> (0 until 64).map { d =>
        val s = vs.map(v => math.floor(v._3(d) * 1e9).toLong).sum
        (s / vs.size).toDouble / 1e9 // Long / Long = Scala DIV-truncation
      }.toArray
    }
    def d2e9(v: Array[Double], c: Array[Double]): Long = {
      var s = 0.0; var i = 0
      while (i < 64) { val d = v(i) - c(i); s += d * d; i += 1 }
      math.floor(s * 1e9).toLong
    }
    val expected = rows.map { case (_, lbl, v) =>
      val a2 = d2e9(v, cents(lbl))
      val b2 = cents.filter(_._1 != lbl).map(c => d2e9(v, c._2)).min
      (lbl, math.floor((b2 - a2).toDouble / math.max(a2, b2).toDouble * 1e6).toLong)
    }.groupBy(_._1).map { case (lbl, ss) =>
      val vals = ss.map(_._2)
      (lbl.toLong, vals.length.toLong, vals.sum / vals.length, vals.min, vals.max)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.Vectors.v29Silhouette(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === expected, "silhouette diverged from the fixed-point replay")
    // the mathematical bound: s in [-1, 1] exactly (e6 fixed point)
    got.foreach { case (lbl, _, mean, mn, mx) =>
      assert(mn >= -1000000L && mx <= 1000000L && mean >= mn && mean <= mx,
        s"label $lbl silhouette out of bounds: mean=$mean min=$mn max=$mx")
    }
  }

  test("v30: outlier report matches a driver-side fixed-point replay") {
    val rows = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val cents = rows.groupBy(_._2).map { case (lbl, vs) =>
      lbl -> (0 until 64).map { d =>
        val s = vs.map(v => math.floor(v._3(d) * 1e9).toLong).sum
        (s / vs.size).toDouble / 1e9
      }.toArray
    }
    def d2e9(v: Array[Double], c: Array[Double]): Long = {
      var s = 0.0; var i = 0
      while (i < 64) { val d = v(i) - c(i); s += d * d; i += 1 }
      math.floor(s * 1e9).toLong
    }
    val expected = rows.map { case (id, lbl, v) => (lbl, id, d2e9(v, cents(lbl))) }
      .groupBy(_._1).map { case (lbl, xs) =>
        val n = xs.length.toLong
        val mean = xs.map(_._3).sum / n // Long DIV, same truncation as SQL
        val out = xs.count(_._3 > 2L * mean).toLong
        val worst = xs.minBy(t => (-t._3, t._2)) // max d2, ties to low vec_id
        (lbl, n, mean, out, out * 1000000L / n, worst._2, worst._3)
      }.toSeq.sortBy(_._1)
    val got = graft.queries.Vectors.v30CentroidOutliers(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected, "outlier report diverged from the fixed-point replay")
    // Markov bound, exact in the integer algebra: k members above
    // 2x mean satisfy 2*mean*k < sum(d2) = n*true_mean, so the flagged
    // share is a strict minority whenever the truncated mean is positive
    got.foreach { case (lbl, n, mean, out, ppm, _, worstD2) =>
      assert(out * 2 < n || mean == 0L,
        s"label $lbl flags $out of $n — a mean-multiple cutoff cannot flag a majority")
      assert(ppm == out * 1000000L / n, s"label $lbl ppm inconsistent")
      assert(worstD2 >= 0L, s"label $lbl negative distance")
    }
  }

  test("v19: the nprobe curve is monotone and anchored to v8's measured points") {
    val rows = graft.queries.Vectors.v19NprobeSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    // deeper probes can only add candidates and hits (the sweep shares
    // one scored set, so this is a real invariant, not luck)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"candidate count fell ${a._1}->${b._1}")
      assert(b._3 >= a._3, s"hit count fell ${a._1}->${b._1}")
      assert(b._4 >= a._4, s"recall fell ${a._1}->${b._1}")
    }
    // v8 measures the SAME quantities at depths 1 and 2 (its cand/hit
    // columns are per-query); the sweep must agree with it exactly
    val v8 = graft.queries.Vectors.v8IvfNprobe(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (c1, c2) = (v8.map(_._1).sum, v8.map(_._2).sum)
    val (h1, h2) = (v8.map(_._3).sum, v8.map(_._4).sum)
    assert(rows(0)._2 === c1 && rows(0)._3 === h1, "depth-1 point disagrees with v8")
    assert(rows(1)._2 === c2 && rows(1)._3 === h2, "depth-2 point disagrees with v8")
  }

  test("v20: sign-word packing replays from raw vectors; rerank contract holds") {
    val rows = graft.queries.Vectors.v20HammingAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.map(_._1).distinct.length === 10)
    // independent replay of the two-word sign packing + xor popcount
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def words(v: Seq[Double]): (Long, Long) = {
      def w(off: Int) = (0 until 32).map(i =>
        if (v(i + off) > 0d) 1L << i else 0L).sum
      (w(0), w(32))
    }
    rows.foreach { case (qid, _, cid, hamming, _, _) =>
      val (q1, q2) = words(vecs(qid))
      val (c1, c2) = words(vecs(cid))
      val expected = java.lang.Long.bitCount(q1 ^ c1) + java.lang.Long.bitCount(q2 ^ c2)
      assert(expected.toLong === hamming, s"q$qid c$cid hamming off")
    }
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L), s"q$qid ranks wrong")
      rs.sortBy(_._2).sliding(2).foreach { case Array(a, b) =>
        assert(a._5 > b._5 || (a._5 == b._5 && a._3 < b._3), s"q$qid rerank order violated")
      }
    }
    // the prefilter must actually work on this corpus: most of the exact
    // top-3 survives the 32-candidate Hamming shortlist
    val recall = rows.map(_._6).sum.toDouble / rows.length
    assert(recall >= 0.5, f"Hamming shortlist recall $recall%.2f collapsed")
  }

  test("d30: attribution finds the exact longest shared run and the mutation-split clone islands") {
    try {
      val shared = (0 until 30).map(i => s"shr$i") // 30-token shared block
      val doc0 = filler("a", 5) ++ shared ++ filler("b", 5)   // 40 tokens, bench (id 0)
      val doc1 = filler("c", 3) ++ shared ++ filler("d", 7)   // train (id 1)
      val dir = corpusDir(Seq(
        0L -> doc0.mkString(" "), 1L -> doc1.mkString(" "),
        7L -> filler("e", 30).mkString(" "))) // unrelated train doc
      val got = Documents.d30ContaminationAttribution(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // bench 0 vs train 1: the 30-token block is one diagonal run of 23
      // 8-grams -> longest 30, n_matches 23.
      // bench 0 vs its planted clone 2000000: token 25 mutates, splitting
      // the diagonal into islands of 24 and 15 tokens (17 + 8 grams).
      assert(got.toSeq === Seq(
        (0L, 1L, 1L, 30L, 23L),
        (0L, 2L, 2000000L, 24L, 25L)))
    } finally graft.operators.PersistedIndex.dropAll(spark, "graft_kgram_d30")
  }

  test("w16: the disorder profile matches a brute-force lateness replay") {
    val rows = graft.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows.toSeq.groupBy(_._1)
    val expected = byType.toSeq.flatMap { case (t, es) =>
      val ordered = es.map { case (_, id, us) =>
        val shift = math.floorMod(
          graft.functions.HashFunctions.md5NumberBigEndianLocal(s"$id:arr"), 7L) - 3L
        (id + shift, id, us)
      }.sortBy(e => (e._1, e._2))
      var seen = Long.MinValue
      ordered.map { case (_, _, us) =>
        seen = math.max(seen, us)
        val late = seen - us
        val bucket =
          if (late == 0) "0_in_order"
          else if (late <= 60000000L) "1_under_1m"
          else if (late <= 600000000L) "2_under_10m"
          else if (late <= 3600000000L) "3_under_1h"
          else "4_over_1h"
        ((t, bucket), late)
      }
    }.groupBy(_._1).toSeq.map { case ((typ, bucket), ls) =>
      (typ, bucket, ls.size.toLong, ls.map(_._2).max)
    }.sorted
    val got = graft.queries.Events.w16DisorderProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got === expected, "disorder profile diverged from the replay")
  }

  test("p14: the anneal schedule is monotone toward proportional and epoch 0 IS d22") {
    val rows = graft.queries.Documents.p14AnnealMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    // rarest language keeps rate 1000 at every temperature; every other
    // language's rate is non-increasing as tau anneals 1/2 -> 1
    val byLang = rows.groupBy(_._2)
    val minDocs = byLang.values.map(_.head._3).min
    byLang.foreach { case (lang, es) =>
      val rates = es.sortBy(_._1).map(_._4)
      if (es.head._3 == minDocs) assert(rates.forall(_ == 1000L), s"$lang: rarest not full")
      else rates.sliding(2).foreach { case Array(a, b) =>
        assert(b <= a, s"$lang: rate rose while annealing toward proportional")
      }
    }
    // epoch 0 (tau = 1/2) must agree exactly with d22's independent rates
    val d22 = graft.queries.Documents.d22TemperatureMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    rows.filter(_._1 == 0L).foreach { case (_, lang, _, rate, _) =>
      assert(rate === d22(lang), s"$lang: epoch-0 rate disagrees with d22")
    }
  }

  test("p12: the delivery manifest keeps only gated docs, covers each epoch once, rarest lang fully") {
    val rows = Pipeline.p12DeliveryE2e(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    // every manifest doc passed the d24 gate
    val kept = Documents.d24QualityGate(spark, sf)
      .filter(col("keep") === 1).collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => kept(r._4)), "a gated-out doc reached the manifest")
    // each sampled doc appears exactly once per epoch
    val perDoc = rows.groupBy(_._4)
    perDoc.foreach { case (id, rs) =>
      assert(rs.map(_._1).sorted.toSeq === Seq(0L, 1L), s"doc $id epochs wrong")
    }
    // positions are contiguous from 1 within each (epoch, shard)
    rows.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length).toSeq,
        s"shard $k positions not contiguous")
    }
    // the rarest language's rate is 1000 permille — its whole cleaned
    // pool must appear in every epoch
    val poolByLang = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(p => kept(p._1)).groupBy(_._2).view.mapValues(_.length).toMap
    val rarest = poolByLang.minBy(p => (p._2, p._1))._1
    val inManifest = rows.filter(r => r._1 == 0L && r._5 == rarest).length
    assert(inManifest === poolByLang(rarest),
      s"rarest lang '$rarest' not fully kept: $inManifest of ${poolByLang(rarest)}")
  }

  test("d28: deletion-aware clusters equal the post-deletion full rebuild") {
    def fullPostDeletion(dir: String): Seq[(Long, Long, Long)] = {
      val pairs = Documents.d6MinhashLsh(spark, dir)
        .filter(col("da") % 13 =!= 0 && col("db") % 13 =!= 0)
        .select(col("da").as("src"), col("db").as("dst"))
      val nodes = pairs.select(col("src").as("id"))
        .unionByName(pairs.select(col("dst").as("id"))).distinct()
      val labels = graft.operators.ConnectedComponents.run(nodes, pairs)
        .collect().map(r => (r.getLong(1), r.getLong(0)))
      val sizes = labels.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      labels.map { case (c, id) => (c, id, sizes(c)) }.sorted.toSeq
    }
    try {
      val inc = Documents.d28DeletionClusters(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(inc === fullPostDeletion(sf), "deletion clusters differ from rebuild")
      // planted: cluster {1, 2, 13} loses tombstoned 13 and SHRINKS to
      // {1, 2}; untouched cluster {3, 4} passes through verbatim
      val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val y = "one two three four five six seven eight nine ten"
      val dir = corpusDir(Seq(
        1L -> x, 2L -> (x + " extra"), 13L -> x, 3L -> y, 4L -> (y + " extra")))
      val incD = Documents.d28DeletionClusters(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(incD === fullPostDeletion(dir), "planted deletion differs from rebuild")
      assert(!incD.exists(_._2 == 13L), "tombstoned doc survived")
      assert(incD.contains((1L, 1L, 2L)) && incD.contains((1L, 2L, 2L)),
        "affected cluster did not shrink to {1, 2}")
      assert(incD.contains((3L, 3L, 2L)) && incD.contains((3L, 4L, 2L)),
        "untouched cluster was disturbed")
    } finally {
      Seq("graft_sig_inc", "graft_delta_inc", "graft_ccstar_inc",
          "graft_labels_inc", "graft_sig_d6")
        .foreach(graft.operators.PersistedIndex.dropAll(spark, _))
    }
  }

  test("d26: incremental clusters equal the full-rebuild CC; shard extends its cluster") {
    def fullClusters(dir: String): Seq[(Long, Long, Long)] = {
      val pairs = Documents.d6MinhashLsh(spark, dir)
        .select(col("da").as("src"), col("db").as("dst"))
      val nodes = pairs.select(col("src").as("id"))
        .unionByName(pairs.select(col("dst").as("id"))).distinct()
      val labels = graft.operators.ConnectedComponents.run(nodes, pairs)
        .collect().map(r => (r.getLong(1), r.getLong(0)))
      val sizes = labels.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      labels.map { case (c, id) => (c, id, sizes(c)) }.sorted.toSeq
    }
    try {
      val inc = Documents.d26IncrementalClusters(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(inc === fullClusters(sf), "incremental clusters differ from rebuild")
      assert(inc.nonEmpty, "cluster comparison is vacuous")
      // planted delta: shard doc 20 clones base doc 1 -> the {1,2}
      // cluster must grow to {1,2,20}; the untouched {3,4} cluster must
      // pass through the incremental rounds unchanged
      val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val y = "one two three four five six seven eight nine ten"
      val dir = corpusDir(Seq(
        1L -> x, 2L -> (x + " extra"), 3L -> y, 4L -> (y + " extra"),
        20L -> x))
      val incD = Documents.d26IncrementalClusters(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(incD === fullClusters(dir), "planted-delta clusters differ from rebuild")
      assert(incD.contains((1L, 20L, 3L)), "shard doc did not join its base cluster")
      assert(incD.contains((3L, 4L, 2L)), "untouched base cluster was disturbed")
    } finally {
      graft.operators.PersistedIndex.dropAll(spark, "graft_sig_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_delta_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_ccstar_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_sig_d6")
    }
  }

  test("d20: incremental spans equal the full rebuild, on the fixture and on a planted delta") {
    try {
      // fixture corpus: incremental maintenance reproduces d16 exactly,
      // and a second construction reuses the already-appended index
      val full = Documents.d16SubstringSpans(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val inc = Documents.d20IncrementalSpans(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(inc === full, "incremental spans differ from the full rebuild")
      assert(inc.nonEmpty, "span comparison is vacuous")
      val again = Documents.d20IncrementalSpans(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(again === full, "re-construction over the reused index differs")

      // planted delta: doc 20 (shard: 20 % 10 == 0) clones base doc 1's
      // text, creating a duplication that exists ONLY once the shard
      // lands; docs 2 and 3 share an unrelated pre-existing dup. The
      // incremental result must surface the new (1, 20) spans AND keep
      // the untouched (2, 3) spans.
      val run = "alpha beta gamma delta epsilon zeta eta theta"
      val other = "one two three four five six seven eight"
      val dir = corpusDir(Seq(
        1L -> (run + " " + filler("a", 8).mkString(" ")),
        2L -> (other + " " + filler("b", 8).mkString(" ")),
        3L -> (other + " " + filler("c", 8).mkString(" ")),
        20L -> (run + " " + filler("d", 8).mkString(" "))))
      val fullD = Documents.d16SubstringSpans(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val incD = Documents.d20IncrementalSpans(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(incD === fullD, "planted-delta incremental differs from rebuild")
      val docsWithSpans = Documents.d20IncrementalSpans(spark, dir)
        .select("doc_id").distinct().collect().map(_.getLong(0)).sorted
      assert(docsWithSpans === Array(1L, 2L, 3L, 20L),
        "expected spans for the new pair AND the untouched prior pair")
    } finally {
      graft.operators.PersistedIndex.dropAll(spark, "graft_kgram_inc")
      graft.operators.PersistedIndex.dropAll(spark, "graft_kgram_idx")
    }
  }

  test("d16/d18: persisted k-gram index (the default) matches the in-query form, with fewer exchanges") {
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    try {
      // default path: ONE fingerprint-scoped index build feeds both
      val persisted = Seq("d16_substring_spans", "d18_clip_spans")
        .map(n => n -> run(n)).toMap
      // the payoff: dup detection and the probe both read co-located
      // h-buckets of the persisted index — the in-query form's double
      // k-gram computation and its two repartitions are gone
      val persistedShuffles = ShuffleGolden.count(
        graft.queries.Documents.d16SubstringSpans(spark, sf)
          .queryExecution.executedPlan)
      assert(persistedShuffles <= 2, // span-merge window + output sort
        s"persisted-index d16 shuffles $persistedShuffles times")
      spark.conf.set("graft.substring.persistIndex", "false")
      persisted.foreach { case (n, expected) =>
        assert(run(n) === expected, s"$n differs between index and in-query forms")
        assert(expected.nonEmpty, s"$n comparison is vacuous")
      }
    } finally {
      spark.conf.unset("graft.substring.persistIndex")
      graft.operators.PersistedIndex.dropAll(spark, "graft_kgram_idx")
    }
  }

  test("v10: Lloyd iteration is monotone — assignment inertia never increases") {
    val V = graft.queries.Vectors
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def inertia(step: org.apache.spark.sql.DataFrame): Long =
      step.filter(col("dim") === 1)
        .agg(sum(col("inertia_e9"))).collect().head.getLong(0)
    val s1 = V.kmeansStep(spark, base, V.labelMeans(base))
    val i1 = inertia(s1)
    val s2 = V.kmeansStep(spark, base,
      s1.select(col("cell").as("label"), col("dim"), col("ce9")))
    // J(assign_2, C_1) <= J(assign_1, C_1) <= J(assign_1, C_0): argmin
    // reassignment and mean-optimality; the e-9 fixed-point rounding of
    // the means perturbs J orders of magnitude below inertia_e9's scale
    assert(inertia(s2) <= i1, s"inertia rose: $i1 -> ${inertia(s2)}")
  }

  test("w10: bucketed interval join equals the naive range join") {
    val ev = Tables.load(spark, sf, "events")
    val iv = ev.groupBy(col("user_id").as("owner"))
      .agg(min(col("ts")).as("s"))
      .withColumn("e", col("s") + expr("INTERVAL 30 MINUTES"))
    // naive quadratic reference (fine at sf0.001)
    val naive = iv.join(ev, ev("ts") >= iv("s") && ev("ts") < iv("e"))
      .groupBy(col("owner")).agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Events.w10IntervalJoin(spark, sf)
      .select(col("owner"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
  }

  test("p6: lanes are token-complete, bins contiguous, assignment order-independent") {
    val out = Pipeline.p6PackBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bins within a lane are contiguous from 0
    out.groupBy(_._1).foreach { case (_, rows) =>
      val bins = rows.map(_._2).sorted
      assert(bins === (0L until bins.length).toArray)
    }
    // lane token totals equal the corpus totals (nothing dropped/duplicated)
    val laneTotals = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val expected = Tables.load(spark, sf, "documents")
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 8).as("lane"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("lane").agg(sum("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(laneTotals === expected)
  }

  test("d17: a document's sampling fate is independent of the surrounding corpus") {
    // incremental-ingestion property: the kept count over a restriction
    // equals restricting the kept set — i.e. rates on disjoint halves sum
    val full = Documents.d17StratifiedSample(spark, sf)
      .select(col("lang"), col("n_kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.load(spark, sf, "documents")
    def keptOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val gate = org.apache.spark.sql.functions.pmod(
        graft.functions.HashFunctions.md5NumberBigEndian(
          concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
        lit(1000L))
      val rates = Documents.D17RatesPermille.toMap
      df.withColumn("keep",
          gate < element_at(
            typedLit(rates.map { case (k, v) => k -> v.toLong }), col("lang")))
        .filter(col("keep"))
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val lo = keptOf(docs.filter(col("doc_id") % 2 === 0))
    val hi = keptOf(docs.filter(col("doc_id") % 2 === 1))
    val merged = (lo.keySet ++ hi.keySet)
      .map(k => k -> (lo.getOrElse(k, 0L) + hi.getOrElse(k, 0L))).toMap
    assert(merged === full.filter(_._2 > 0))
  }

  test("d37: the vocab-growth curve matches a brute-force prefix replay") {
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .sortBy(_._1)
    val n = texts.length
    def quart(id: Long): Int = math.min((id * 4 / n).toInt, 3)
    val expected = (0 to 3).map { q =>
      val prefix = texts.filter { case (id, _) => quart(id) <= q }
      val words = prefix.flatMap(_._2).toSet.size.toLong
      val grams = prefix.flatMap { case (_, ts) =>
        ts.sliding(3).filter(_.size == 3).map(_.mkString(" "))
      }.toSet.size.toLong
      ((q + 1) * 25L, prefix.size.toLong, prefix.map(_._2.size.toLong).sum,
        words, grams)
    }
    val got = Documents.d37VocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "vocab growth diverged from the prefix replay")
    // Heaps sanity: cumulative columns are non-decreasing
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4 && b._5 >= a._5)
    }
  }

  test("d39: line-level boilerplate removal matches a brute-force replay") {
    val L = 6
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).toSeq)
      .sortBy(_._1).toSeq
    def linesOf(toks: Seq[String]): Seq[(Int, Seq[String])] =
      (0 to (toks.size - 1) / L).map(i => i -> toks.slice(i * L, i * L + L))
    val boiler = texts
      .flatMap { case (id, ts) => linesOf(ts).map(l => (l._2.mkString(" "), id)) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 3).keySet
    val expected = texts.map { case (id, ts) =>
      val ls = linesOf(ts).map { case (i, l) => (i, l.mkString(" "), l.size.toLong) }
      val kept = ls.filterNot(x => boiler(x._2))
      (id, ls.size.toLong, (ls.size - kept.size).toLong, ls.map(_._3).sum,
        kept.map(_._3).sum, kept.sortBy(_._1).map(_._2).mkString(" "))
    }
    val got = Documents.d39LineDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expected, "line dedup diverged from the replay")
    // non-vacuous on the real fixture: the rule must actually fire
    assert(expected.map(_._3).sum > 0, "no boilerplate line found at sf0.001 " +
      "— the >=3-docs rule never fires and the operator is untested")
  }

  test("d39: a planted shared header is dropped from exactly its carriers") {
    val hdr = (0 until 6).map(i => s"hdr$i")
    val dir = corpusDir(Seq(
      1L -> (hdr ++ filler("a", 12)).mkString(" "),
      2L -> (hdr ++ filler("b", 12)).mkString(" "),
      3L -> (hdr ++ filler("c", 12)).mkString(" "),
      4L -> filler("d", 18).mkString(" ")))
    val got = Documents.d39LineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4), r.getString(5))))
      .toMap
    for (id <- Seq(1L, 2L, 3L)) {
      val (nBoiler, nAfter, cleaned) = got(id)
      assert(nBoiler === 1L, s"doc $id: header line not detected")
      assert(nAfter === 12L)
      assert(!cleaned.contains("hdr"), s"doc $id: header survived: $cleaned")
    }
    val (nb4, na4, cleaned4) = got(4L)
    assert(nb4 === 0L && na4 === 18L, "doc 4 has no shared line to drop")
    assert(cleaned4 === filler("d", 18).mkString(" "), "doc 4 must be untouched")
  }

  test("p19: CCNet buckets replay NTILE(3) over d31's own scores") {
    val scored = Documents.lmScored(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (lang, g) =>
      val ordered = g.sortBy(x => (-x._4, x._1))
      // SQL-standard NTILE: the first (n mod 3) buckets get the extra row
      val (base, rem) = (ordered.length / 3, ordered.length % 3)
      val labels = (1 to 3).flatMap(b => Seq.fill(
        base + (if (b <= rem) 1 else 0))(b match {
        case 1 => "0_head"; case 2 => "1_middle"; case _ => "2_tail" }))
      ordered.zip(labels).map { case (r, b) => (lang, b, r._3, r._4) }
    }.groupBy(x => (x._1, x._2)).toSeq.map { case ((lang, b), g) =>
      (lang, b, g.size.toLong, g.map(_._3).sum, g.map(_._4).min, g.map(_._4).max)
    }.sortBy(x => (x._1, x._2))
    val got = Pipeline.p19PerplexityBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "perplexity buckets diverged from the replay")
    // the CCNet ordering invariant: within a lang, head's minimum score
    // is >= tail's maximum (rank split, so this must hold exactly)
    got.groupBy(_._1).values.foreach { g =>
      val byB = g.map(x => x._2 -> x).toMap
      for (h <- byB.get("0_head"); t <- byB.get("2_tail"))
        assert(h._5 >= t._6, s"head/tail overlap in ${g.head._1}")
    }
  }

  test("r15: the as-of diff matches a per-key sequential replay and conserves keys") {
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "error").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = rows.map(_._2).max / 2
    val byKey = rows.groupBy(_._1)
    case class St(vt: Option[(Long, Long)], vn: (Long, Long))
    val states = byKey.map { case (u, es) =>
      val sorted = es.sortBy(_._2)
      u -> St(sorted.filter(_._2 <= cut).lastOption.map(e => (e._2, e._3)),
        (sorted.last._2, sorted.last._3))
    }
    val expected = states.toSeq.groupBy(_._1 % 8).map { case (b, g) =>
      val liveT = g.count(_._2.vt.exists(_._2 == 0L))
      val liveN = g.count(_._2.vn._2 == 0L)
      val changed = g.count { case (_, s) =>
        s.vt.exists(_._2 == 0L) && s.vn._2 == 0L && s.vn._1 > s.vt.get._1 }
      val created = g.count { case (_, s) =>
        s.vn._2 == 0L && !s.vt.exists(_._2 == 0L) }
      val deleted = g.count { case (_, s) =>
        s.vt.exists(_._2 == 0L) && s.vn._2 == 1L }
      (b, liveT.toLong, liveN.toLong, changed.toLong, created.toLong,
        deleted.toLong)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.Replication.r15AsofRead(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "as-of diff diverged from the replay")
    // conservation: live-now = live-at-T + created - deleted, per bucket
    got.foreach { case (b, t, n, _, cr, de) =>
      assert(n === t + cr - de, s"bucket $b: churn accounting broken")
    }
  }

  test("r15 x r9: as-of state equals the SCD2 interval containing T, for several T") {
    // two INDEPENDENT reconstructions of the same history (the r12
    // two-pipelines-agree discipline): r9 tiles each key's timeline into
    // half-open [ver_from, ver_to) intervals via a lead window; r15's
    // shape reads the state at T as one gated max per key. For any T,
    // "the interval containing T" and "the gated max at T" must name the
    // SAME (key -> version) map, with soft deletes excluded identically.
    val intervals = graft.queries.Replication.r9Scd2History(spark, sf)
      .select("user_id", "ver_from", "ver_to", "deleted").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MaxValue else r.getLong(2), r.getLong(3)))
    val maxVer = intervals.map(_._2).max
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("del"))
    for (t <- Seq(1L, maxVer / 10, maxVer / 2, 5000L, (maxVer * 3) / 4, maxVer)) {
      // r9 side: the unique interval with ver_from <= T < ver_to, live
      val viaIntervals = intervals.collect {
        case (u, from, to, del) if from <= t && t < to && del == 0L => u -> from
      }.toMap
      // r15 side: per-key max(struct(ver, del)) gated on ver <= T, live
      val viaGatedMax = ev
        .groupBy(col("user_id"))
        .agg(max(when(col("event_id") <= t,
          struct(col("event_id"), col("del")))).as("s"))
        .filter(col("s").isNotNull && col("s.del") === 0)
        .select(col("user_id"), col("s.event_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaGatedMax === viaIntervals,
        s"as-of reconstruction diverged between r15's gated max and " +
          s"r9's intervals at T=$t")
    }
  }

  /** Waterfill in plain Scala — the independent replay for p20. */
  private def waterfillReplay(supplies: Seq[(String, Long)])
      : (Seq[(String, Long, Long, Long)], Option[Long], Long) = {
    val budget = supplies.map(_._2).sum * 9 / 10
    val sorted = supplies.sortBy(x => (x._2, x._1))
    val n = sorted.length
    var prefix = 0L
    val capped = sorted.zipWithIndex.map { case ((_, s), i) =>
      val c = prefix + s * (n - i) <= budget
      prefix += s
      c
    }
    val k = capped.count(identity)
    val prefixK = sorted.take(k).map(_._2).sum
    val level = if (k == n) None else Some((budget - prefixK) / (n - k))
    val allocs = sorted.zip(capped).map { case ((src, s), c) =>
      (src, s, if (c) s else level.get, if (c) 1L else 0L)
    }
    (allocs.sortBy(_._1), level, budget - allocs.map(_._3).sum)
  }

  test("p20 property: the closed-form waterline equals an iterative fixpoint on random supplies") {
    // the textbook waterfilling algorithm ITERATES: compute a tentative
    // waterline over the free sources, cap every source at-or-below it,
    // repeat until stable. p20 claims the capped set is a sorted PREFIX
    // decided by one monotone predicate — this test proves the claim on
    // random instances by running both to completion.
    def iterative(supplies: Seq[Long], budget: Long): (Set[Int], Option[Long]) = {
      var capped = Set.empty[Int]
      var changed = true
      while (changed && capped.size < supplies.size) {
        changed = false
        val free = supplies.indices.filterNot(capped)
        val rem = budget - capped.toSeq.map(supplies).sum
        val level = rem / free.size
        val newly = free.filter(i => supplies(i) <= level)
        if (newly.nonEmpty) { capped ++= newly; changed = true }
      }
      if (capped.size == supplies.size) (capped, None)
      else (capped,
        Some((budget - capped.toSeq.map(supplies).sum) / (supplies.size - capped.size)))
    }
    for (seed <- 1L to 40L) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(12)
      val supplies = (1 to n).map(i => (f"s$i%02d", 1L + rnd.nextInt(1000).toLong))
      val budget = supplies.map(_._2).sum * 9 / 10
      val (allocs, level, unallocated) = waterfillReplay(supplies)
      val (itCapped, itLevel) = iterative(supplies.map(_._2), budget)
      val closedCapped = allocs.zipWithIndex.collect {
        case ((src, _, _, 1L), _) => src
      }.toSet
      val itCappedNames = itCapped.map(i => supplies(i)._1)
      assert(closedCapped === itCappedNames,
        s"seed $seed: capped sets diverge (closed $closedCapped vs iterative $itCappedNames)")
      assert(level === itLevel, s"seed $seed: waterlines diverge")
      // conservation + max-min fairness: uncapped get exactly L, capped
      // supplies never exceed L, and the remainder is bounded by the
      // number of uncapped sources
      assert(allocs.map(_._3).sum + unallocated === budget, s"seed $seed: not conserved")
      level.foreach { l =>
        allocs.foreach { case (src, s, a, c) =>
          if (c == 1L) assert(s <= l || a === s,
            s"seed $seed $src: capped source above the waterline")
          else assert(a === l, s"seed $seed $src: uncapped source not at the waterline")
        }
        assert(unallocated >= 0 && unallocated < n.toLong,
          s"seed $seed: remainder exceeds the uncapped count")
      }
    }
  }

  test("p20: waterfill replays exactly and conserves the budget on the fixture") {
    val supplies = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).length.toLong)
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }.toSeq
    val (expAllocs, expLevel, expUnalloc) = waterfillReplay(supplies)
    val got = Pipeline.p20BudgetWaterfill(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    assert(got.map(x => (x._1, x._2, x._3, x._4)).toSeq === expAllocs,
      "waterfill allocations diverged from the replay")
    got.foreach { x =>
      assert(x._5 === expLevel && x._6 === expUnalloc, "level/remainder wrong")
    }
    // conservation is EXACT by construction: allocations + remainder = B
    assert(got.map(_._3).sum + got.head._6 ===
      supplies.map(_._2).sum * 9 / 10)
    // waterline properties: every capped supply <= level <= every
    // uncapped supply (max-min fairness)
    for (l <- expLevel) {
      assert(got.filter(_._4 == 1L).forall(_._2 <= l))
      assert(got.filter(_._4 == 0L).forall(_._2 >= l))
    }
  }

  test("p20: a skewed corpus caps exactly its starved sources") {
    // three fat sources + one tiny one: the tiny source must be taken
    // whole, the fat ones pinned at a common waterline
    import spark.implicits._
    val dir = tempDir("wf_fixture").toString
    val texts = Seq(
      (1L, filler("a", 400), "big_a"), (2L, filler("b", 400), "big_b"),
      (3L, filler("c", 400), "big_c"), (4L, filler("d", 20), "tiny"))
    texts.map { case (id, ts, src) => (id, ts.mkString(" "), "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.p20BudgetWaterfill(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // budget = 1220*9/10 = 1098; tiny(20) caps; level = (1098-20)/3 = 359
    assert(got("tiny") === ((20L, 1L)), "starved source must be taken whole")
    for (s <- Seq("big_a", "big_b", "big_c"))
      assert(got(s) === ((359L, 0L)), s"$s must sit at the waterline")
  }

  test("q32: important parts replay with decimal-exact revenue sums") {
    val rows = Tables.load(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // both engines: per-row IEEE product, then EXACT decimal(18,4) sums
    def dec4(d: Double): BigDecimal =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val perPart = rows.groupBy(_._1).map { case (p, g) =>
      (p, g.map(x => dec4(x._2 * (1.0 - x._3))).sum.toDouble, g.size.toLong)
    }.toSeq
    val total = perPart.map(x => BigDecimal(x._2).setScale(4,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    val expected = perPart.filter(_._2 > 0.002 * total)
      .map { case (p, rev, n) =>
        (p, n, rev, math.floor(rev / total * 1000000.0).toLong) }
      .sortBy(x => (-x._3, x._1))
    val got = graft.queries.Relational.q32ImportantParts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(got === expected, "important-parts set diverged from the replay")
    assert(got.nonEmpty, "threshold selects nothing — the HAVING is vacuous")
  }

  test("q31: z-order rectangles replay and beat ingest-order on mean area") {
    val rows = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (maxo, maxp, maxs) =
      (rows.map(_._1).max, rows.map(_._2).max, rows.map(_._3).max)
    def interleave(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    def stats(buckets: Map[Long, Array[(Long, Long)]]): (Long, Long, Long) = {
      val areas = buckets.values.map { ps =>
        (ps.map(_._1).max - ps.map(_._1).min + 1) *
          (ps.map(_._2).max - ps.map(_._2).min + 1)
      }
      (buckets.size.toLong, areas.sum / areas.size, areas.max)
    }
    val zStats = stats(rows.groupBy { case (_, p, s) =>
      interleave(p * 65536 / (maxp + 1), s * 65536 / (maxs + 1)) >> 26
    }.map { case (b, g) => b -> g.map(r => (r._2, r._3)) })
    val oStats = stats(rows.groupBy(r => r._1 * 64 / (maxo + 1))
      .map { case (b, g) => b -> g.map(r => (r._2, r._3)) })
    val got = graft.queries.Relational.q31ZorderLayout(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("z_order") === zStats, "z-order stats diverged from the replay")
    assert(got("ingest_order") === oStats, "ingest stats diverged from the replay")
    // the layout claim itself: the space-filling curve's mean bounding
    // rectangle must be materially smaller than ingest-order's
    assert(zStats._2 * 4 < oStats._2,
      s"z-order mean area ${zStats._2} not <4x ingest ${oStats._2} — the " +
        "locality demonstration is vacuous on this fixture")
  }

  test("w22: merged sketches equal the sketch of merged data, and the exact side replays") {
    // THE mergeability property — merge-of-sketches ≡ sketch-of-union —
    // is what lets a 100 TB pipeline answer rolling windows from stored
    // daily state. It holds EXACTLY (register max is associative/
    // commutative/idempotent), so assert it value-for-value: rebuild
    // each window's sketch from the raw unioned events and compare the
    // register-derived estimate to the query's.
    val rows = Tables.load(spark, sf, "events")
      .select(expr("unix_micros(ts) DIV 86400000000"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def md5be(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.BIG_ENDIAN).getLong(8)
    }
    def sketch(users: Iterable[Long]): Map[Long, Long] =
      users.map { u =>
        val hu = math.floorMod(md5be(s"u:$u"), 1099511627776L)
        val x = hu / 256
        val rho = if (x == 0) 33L
          else java.lang.Long.numberOfTrailingZeros(x) + 1L
        (hu % 256, math.min(rho, 20L))
      }.groupBy(_._1).map { case (reg, rs) => reg -> rs.map(_._2).max }
    def estimate(regs: Map[Long, Long]): Long = {
      val s = regs.values.map(r => 1L << (20 - r)).sum +
        (256 - regs.size) * 1048576L
      718270L * (68719476736L / s) / 1000000L
    }
    val byDay = rows.groupBy(_._1)
    val days = byDay.keySet
    val expected = days.toSeq.sorted.map { d =>
      val windowUsers = byDay.filter { case (d2, _) => d2 >= d - 6 && d2 <= d }
        .values.flatten.map(_._2)
      val merged = sketch(windowUsers.toSet) // sketch of the UNION
      // merge of per-day sketches must be the same map
      val mergedFromDaily = byDay
        .filter { case (d2, _) => d2 >= d - 6 && d2 <= d }
        .values.map(v => sketch(v.map(_._2).toSet))
        .reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
          k -> math.max(a.getOrElse(k, 0L), b.getOrElse(k, 0L))).toMap)
      assert(merged === mergedFromDaily, s"day $d: merge != sketch-of-union")
      (d, merged.size.toLong, estimate(merged),
        windowUsers.toSet.size.toLong)
    }
    val got = Events.w22SketchMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected.map(e => (e._1, e._2, e._3, e._4)),
      "w22 diverged from the sketch replay")
  }

  test("w21: the gap histogram matches a per-user sequential replay") {
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def bucket(gap: Long): String =
      if (gap < 60000000L) "0_under_1m"
      else if (gap < 600000000L) "1_under_10m"
      else if (gap < 3600000000L) "2_under_1h"
      else if (gap < 86400000000L) "3_under_1d"
      else "4_over_1d"
    val gaps = rows.toSeq.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      es.sortBy(e => (e._2, e._3)).map(_._2).sliding(2).collect {
        case Seq(a, b) => (uid, b - a)
      }
    }
    val expected = gaps.groupBy(g => bucket(g._2)).toSeq.map { case (b, gs) =>
      (b, gs.size.toLong, gs.map(_._1).distinct.size.toLong, gs.map(_._2).max)
    }.sorted
    // conservation: every consecutive pair lands in exactly one bucket
    assert(expected.map(_._2).sum ===
      rows.toSeq.groupBy(_._1).values.map(es => (es.size - 1).max(0).toLong).sum)
    val got = Events.w21GapHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got === expected, "gap histogram diverged from the replay")
  }

  test("p18: repeat-factor plan conserves the budget and honors the 4-epoch cap") {
    val perSrc = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).length.toLong)
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val total = perSrc.values.sum
    val target = total / 2 / perSrc.size
    val got = Pipeline.p18RepeatFactor(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._1).toSeq.sorted === perSrc.keySet.toSeq.sorted)
    got.foreach { case (src, nTok, tgt, ppm, shortfall) =>
      assert(nTok === perSrc(src))
      assert(tgt === target)
      val rawPpm = target * 1000000L / nTok
      assert(ppm === math.min(rawPpm, 4000000L), s"$src: cap not applied")
      assert(shortfall === math.max(target - ppm * nTok / 1000000L, 0L))
      // an uncapped source fills its target to within integer truncation
      if (ppm < 4000000L) assert(target - ppm * nTok / 1000000L <= nTok / 1000000L + 1)
    }
  }

  test("q30: the backlog curve conserves opens/closes and ends at zero") {
    val got = graft.queries.Relational.q30OrderBacklog(spark, sf).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nOrders = Tables.load(spark, sf, "orders").count()
    val nClosed = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey")).distinct().count()
    assert(got.map(_._2).sum === nOrders, "every order opens exactly once")
    assert(got.map(_._3).sum === nClosed, "every lineitem-bearing order closes once")
    // the curve IS the running difference, and months arrive sorted
    var cum = 0L
    got.foreach { case (_, o, c, b) => cum += o - c; assert(b === cum) }
    assert(got.last._4 === nOrders - nClosed, "terminal backlog = never-shipped orders")
    assert(got.map(_._1.toString) === got.map(_._1.toString).sorted)
  }

  test("d38: the label-noise audit is the per-source marginal of d9's confusion matrix") {
    // shared-classifier guarantee: d38's totals must be exactly d9's
    // confusion matrix folded the other way (both read d9Pred)
    val d9 = Documents.d9LangIdNgram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val d38 = Documents.d38SourceLabelNoise(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(d38.map(_._2).sum === nDocs, "every doc audited exactly once")
    assert(d38.map(_._3).sum === d9.filter(_._2 == "unknown").map(_._3).sum,
      "unknown totals diverge between the two readouts")
    assert(d38.map(_._4).sum ===
      d9.filter(t => t._2 != "unknown" && t._2 != t._1).map(_._3).sum,
      "mismatch totals diverge between the two readouts")
    d38.foreach { case (src, n, _, mis, ppm) =>
      assert(ppm === mis * 1000000L / n, s"$src: ppm not the integer quotient")
    }
  }

  test("r14: the commit ledger matches a per-batch replay of r3's shaping rules") {
    val rows = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.toSeq.groupBy(_._1 / 1000).toSeq.sortBy(_._1).map {
      case (b, es) =>
        def isTomb(e: (Long, String)) = e._2 == "click" && e._1 % 50 == 0
        val up = es.count(e => e._2 != "signup" && e._2 != "error" && !isTomb(e))
        val rm = es.count(e => e._2 == "error" && !isTomb(e))
        val sk = es.count(e => e._2 == "signup" || isTomb(e))
        (b, up.toLong, rm.toLong, sk.toLong, es.map(_._1).min, es.map(_._1).max)
    }
    val got = graft.queries.Replication.r14BatchLedger(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSeq === expected)
    // ledger invariant: applied_cum is the running net row delta, and
    // every event is accounted for exactly once
    var cum = 0L
    got.foreach { case (_, up, rm, _, _, _, app) => cum += up - rm; assert(app === cum) }
    assert(got.map(t => t._2 + t._3 + t._4).sum === rows.length.toLong)
  }

  /** p2's md5-bucket split, replayed in plain JVM arithmetic. */
  private def splitOf(id: Long): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val bucket = java.lang.Long.parseLong(
      md5.take(4).map("%02x".format(_)).mkString, 16) % 100
    if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
  }

  test("d40: split leakage equals a replay over d6's own near-dup pairs") {
    val pairs = Documents.d6MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "fixture yields no near-dup pairs — replay is vacuous")
    val expected = pairs.toSeq.flatMap { case (da, db, est) =>
      val (sa, sb) = (splitOf(da), splitOf(db))
      if ((sa == "train") != (sb == "train"))
        Some(if (sa == "train") (db, sb, est) else (da, sa, est))
      else None
    }.groupBy(x => (x._1, x._2)).toSeq.map { case ((d, s), xs) =>
      (d, s, xs.length.toLong, xs.map(_._3).max)
    }.sortBy(_._1)
    val got = Documents.d40SplitLeakage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === expected, "leak list diverges from the d6-pair replay")
    got.foreach { case (d, s, n, e) =>
      assert(s != "train", s"doc $d: a train doc cannot be a leaked eval doc")
      assert(splitOf(d) === s, s"doc $d: split column wrong")
      assert(n >= 1 && e >= 0.5, s"doc $d: admission invariants broken")
    }
  }

  test("p21: mixture drift equals an integer replay and TV is conserved") {
    val rows = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val cells = rows.toSeq.groupBy(x => (x._2, x._3)).toSeq.map {
      case ((s, l), xs) =>
        (s, l, xs.count(_._1 % 2 == 0).toLong, xs.count(_._1 % 2 == 1).toLong)
    }
    val (ta, tb) = (cells.map(_._3).sum, cells.map(_._4).sum)
    val scored = cells.map { case (s, l, na, nb) =>
      val (sa, sb) = (na * 1000000L / ta, nb * 1000000L / tb)
      (s, l, na, nb, sa, sb, math.abs(sa - sb))
    }
    val tv = scored.map(_._7).sum / 2
    val expected = scored.map(x =>
      (x._1, x._2, x._3, x._4, x._5, x._6, x._7, tv)).sortBy(x => (x._1, x._2))
    val got = Pipeline.p21MixtureDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === expected, "drift cells diverge from the integer replay")
    // TV is a metric on [0, 1e6]: bounded, and zero iff the mixes match
    assert(tv >= 0 && tv <= 1000000L)
    assert((tv == 0) === scored.forall(_._7 == 0))
  }

  test("w23: time-decay attribution equals a per-user sequential replay") {
    val ev = Tables.load(spark, sf, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    // replay: walk each user's timeline; a purchase closes the open
    // segment and distributes floor(value*1e6) over its touches with
    // weight 1000000 >> (k-1) for recency rank k (0 beyond 20 steps)
    case class A(touchType: String, w: Long, attr: Long)
    val out = scala.collection.mutable.ArrayBuffer.empty[A]
    ev.groupBy(_._1).foreach { case (_, es) =>
      var open = List.empty[(String, Long, Long)] // type, us, event_id
      es.sortBy(e => (e._4, e._2)).foreach { e =>
        if (e._3 != "purchase") open ::= (e._3, e._4, e._2)
        else {
          val ordered = open // most recent first (prepend order)
          val weighted = ordered.zipWithIndex.map { case (t, i) =>
            val k = i + 1
            (t._1, if (k <= 20) 1000000L >> (k - 1) else 0L)
          }
          val sw = weighted.map(_._2).sum
          if (sw > 0) {
            val pval = math.floor(e._5 * 1e6).toLong
            weighted.foreach { case (tt, w) => out += A(tt, w, pval * w / sw) }
          }
          open = Nil
        }
      }
    }
    val expected = out.groupBy(_.touchType).toSeq.map { case (tt, as) =>
      (tt, as.size.toLong, as.map(_.w).sum, as.map(_.attr).sum)
    }
    val totalAttr = expected.map(_._4).sum
    val withShare = expected.map(x =>
      (x._1, x._2, x._3, x._4, x._4 * 1000000L / totalAttr))
      .sortBy(_._1)
    val got = graft.queries.Events.w23DecayAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === withShare, "attribution diverges from the sequential replay")
  }

  test("d41: vocabulary coverage equals a brute-force Zipf replay") {
    val words = Tables.load(spark, sf, "documents")
      .select(coalesce(col("text"), lit(""))).collect()
      .flatMap(_.getString(0).split(" ", -1))
    val total = words.length.toLong
    val byCount = words.groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.length.toLong) }
      .sortBy { case (w, c) => (-c, w) }
    val expected = Seq(100, 1000, 10000).map { n =>
      val used = math.min(n, byCount.size)
      val cum = byCount.take(used).map(_._2).sum
      (n.toLong, used.toLong, cum, total, cum * 1000000L / total)
    }
    val got = Documents.d41VocabCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "coverage curve diverges from the Zipf replay")
    // monotone curve: more vocabulary can only cover more
    assert(got.map(_._3) === got.map(_._3).sorted)
  }

  test("r16: tombstone GC report equals a per-key replay and conserves keys") {
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "error").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = rows.map(_._2).max / 2
    val latest = rows.groupBy(_._1).map { case (u, es) =>
      val l = es.maxBy(_._2); (u, l._2, l._3)
    }
    val expected = latest.toSeq.groupBy(_._1 % 8).toSeq.map { case (b, g) =>
      val live = g.count(_._3 == 0L).toLong
      val tomb = g.count(_._3 == 1L).toLong
      val gc = g.count(x => x._3 == 1L && x._2 <= cut).toLong
      (b, live, tomb, gc, gc * 1000000L / (live + tomb))
    }.sortBy(_._1)
    val got = graft.queries.Replication.r16TombstoneGc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "GC report diverges from the per-key replay")
    // every key is live or tombstoned; GC-eligible is a tombstone subset
    assert(got.map(t => t._2 + t._3).sum === latest.size.toLong)
    got.foreach { case (b, _, tomb, gc, _) =>
      assert(gc <= tomb, s"bucket $b: GC-eligible exceeds tombstones")
    }
  }

  test("w24: stickiness equals a brute-force grid replay and stays in (0, 1]") {
    val grid = Tables.load(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).distinct
    val anchor = java.time.LocalDate.parse("2024-01-01")
    val byWeek = grid.groupBy { case (_, d) =>
      java.time.temporal.ChronoUnit.DAYS.between(
        anchor, java.time.LocalDate.parse(d)) / 7
    }
    val expected = byWeek.toSeq.map { case (w, g) =>
      val days = g.map(_._2).distinct.size.toLong
      val wau = g.map(_._1).distinct.size.toLong
      val sumDau = g.groupBy(_._2).map(_._2.size.toLong).sum
      val avgDau = sumDau / days
      (w, days, wau, avgDau, avgDau * 1000000L / wau)
    }.sortBy(_._1)
    val got = Events.w24Stickiness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "stickiness diverges from the grid replay")
    // a day's actives are a subset of the week's: ratio in (0, 1e6]
    got.foreach { case (w, _, _, _, s) =>
      assert(s > 0 && s <= 1000000L, s"week $w: stickiness out of range")
    }
  }

  test("d42: containment pairs equal a brute-force replay and catch planted excerpts") {
    val raw = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    def toks(t: String): Array[String] = t.split(" ", -1)
    val corpus = raw ++ raw.collect { case (id, t) if id % 10 == 0 =>
      val w = toks(t)
      (id + 2000000L, w.take(math.max(3, w.length / 3)).mkString(" "))
    }
    val sets = corpus.flatMap { case (id, t) =>
      val w = toks(t)
      if (w.length >= 3) Some(id -> w.sliding(3).map(_.mkString(" ")).toSet)
      else None
    }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (s, o) => (s, o.size) }
    val capped = sets.map { case (id, s) => id -> s.filter(df(_) <= Documents.D5MaxShingleDf) }
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (capped(a) & capped(b)).size.toLong if inter > 0
      na = sets(a).size.toLong; nb = sets(b).size.toLong
      (cd, cr, ncd, ncr) <- Seq((a, b, na, nb), (b, a, nb, na))
      cont = inter * 1000000L / ncd if cont >= 900000L
    } yield (cd, cr, ncd, ncr, cont,
      inter * 1000000L / (ncd + ncr - inter))).sortBy(r => (r._1, r._2))
    val got = Documents.d42Containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "containment diverges from the brute-force replay")
    // the planted excerpt-in-original pairs are the asymmetric case d5's
    // Jaccard gate cannot see: full containment, jaccard ~ 1/3
    val planted = got.filter { case (cd, cr, _, _, _, _) => cd == cr + 2000000L }
    assert(planted.nonEmpty, "no planted excerpt pair surfaced")
    planted.foreach { case (_, _, _, _, cont, jac) =>
      assert(cont === 1000000L, "excerpt shingles are a subset of the original's")
      assert(jac < 800000L, "a planted pair must be invisible to the jaccard gate")
    }
  }

  test("p22: curriculum batches equal a driver-side sort replay and are monotone") {
    val scores = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val w = Option(r.getString(1)).getOrElse("").split(" ", -1)
        (r.getLong(0), w.map(_.length.toLong).sum * 1000000L / w.length)
      }
    val expected = scores.sortBy { case (id, s) => (s, id) }
      .map(_._2).grouped(32).zipWithIndex
      .map { case (g, i) =>
        (i.toLong, g.size.toLong, g.min, g.max, g.sum / g.size) }.toSeq
    val got = Pipeline.p22CurriculumBatches(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "batches diverge from the driver-side sort replay")
    // the curriculum promise: difficulty never decreases across batches
    got.sliding(2).foreach {
      case Seq((_, _, _, maxPrev, _), (i, _, minNext, _, _)) =>
        assert(minNext >= maxPrev, s"batch $i breaks the easy-to-hard order")
      case _ =>
    }
  }

  test("w25: time-to-convert bands equal a brute-force funnel replay") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val durs = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val t1 = es.collect { case (_, "view", t) => t }.minOption
      val t2 = t1.flatMap(a =>
        es.collect { case (_, "click", t) if t > a => t }.minOption)
      val t3 = t2.flatMap(b =>
        es.collect { case (_, "purchase", t) if t > b => t }.minOption)
      Seq(("1_view_to_click", for (a <- t1; b <- t2) yield b - a),
        ("2_click_to_purchase", for (b <- t2; c <- t3) yield c - b),
        ("3_view_to_purchase", for (a <- t1; c <- t3) yield c - a))
        .collect { case (s, Some(d)) => (s, d) }
    }
    def bandOf(d: Long): String =
      if (d < 3600000000L) "0_under_1h"
      else if (d < 86400000000L) "1_under_1d"
      else if (d < 604800000000L) "2_under_1w" else "3_over_1w"
    val totals = durs.groupBy(_._1).map { case (s, g) => (s, g.size.toLong) }
    val expected = durs.groupBy { case (s, d) => (s, bandOf(d)) }.toSeq
      .map { case ((s, b), g) =>
        val ds = g.map(_._2)
        (s, b, ds.size.toLong, ds.min, ds.max,
          ds.size.toLong * 1000000L / totals(s))
      }.sortBy(r => (r._1, r._2))
    val got = Events.w25TimeToConvert(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "latency bands diverge from the funnel replay")
    // each stage's band shares account for (almost) the whole stage —
    // integer ppm floors lose at most |bands| ppm
    got.groupBy(_._1).foreach { case (s, rows) =>
      val share = rows.map(_._6).sum
      assert(share > 1000000L - 8 && share <= 1000000L, s"$s shares: $share")
    }
  }

  test("d43: yield report equals an accounting replay over d23's clusters") {
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        Option(r.getString(1)).getOrElse("").split(" ", -1).length.toLong))
      .toMap
    val members = Documents.d23CanonicalKeep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5)))
    def bandOf(sz: Long): String =
      if (sz == 2) "0_size_2" else if (sz <= 4) "1_size_3_4"
      else if (sz <= 8) "2_size_5_8" else "3_size_9_plus"
    val corpusTokens = toks.values.sum
    val expected = members.groupBy { case (_, _, _, sz) => bandOf(sz) }.toSeq
      .map { case (b, g) =>
        val removed = g.collect {
          case (_, doc, keeper, _) if doc != keeper => toks(doc) }.sum
        (b, g.map(_._1).distinct.size.toLong, g.size.toLong,
          g.size.toLong - g.map(_._1).distinct.size.toLong,
          g.map { case (_, doc, _, _) => toks(doc) }.sum, removed,
          corpusTokens, removed * 1000000L / corpusTokens)
      }.sortBy(_._1)
    val got = Documents.d43DedupYield(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === expected, "yield diverges from the d23 accounting replay")
  }

  test("v26: mined hard negatives equal a full IVF replay; exact_hit is truthful") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) v").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }; s
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val cents = vecs.groupBy(_._2).map { case (lab, g) =>
      lab -> Array.tabulate(64) { i =>
        (g.map(v => math.floor(v._3(i) * 1e9).toLong).sum / g.size) / 1e9 }
    }
    def probed(v: Array[Double]): Seq[Long] = cents.toSeq
      .map { case (c, cv) => (c, dotD(v, cv)) }
      .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1)
    val home = vecs.map { case (id, _, v) => id -> probed(v).head }.toMap
    val queries = vecs.filter(_._1 < 10)
    val exact = queries.map { case (q, ql, qv) =>
      q -> vecs.filter { case (c, cl, _) => c != q && cl != ql }
        .map { case (c, _, cv) => (c, cosD(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    }.toMap
    val expected = queries.flatMap { case (q, ql, qv) =>
      val cells = probed(qv).toSet
      vecs.filter { case (c, cl, _) =>
          c != q && cl != ql && cells.contains(home(c)) }
        .map { case (c, cl, cv) => (c, cl, cosD(qv, cv)) }
        .sortBy { case (c, _, s) => (-s, c) }.take(3).zipWithIndex
        .map { case ((c, cl, s), i) =>
          (q, ql, i + 1L, c, cl, s, if (exact(q)(c)) 1L else 0L) }
    }.sortBy(r => (r._1, r._3))
    val got = Vectors.v26HardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3),
        r.getInt(4).toLong, r.getDouble(5), r.getLong(6))).toSeq
    assert(got === expected.toSeq, "v26 diverges from the IVF replay")
    got.foreach { case (_, ql, _, _, nl, _, _) =>
      assert(ql != nl, "a mined negative shares the query's label")
    }
  }

  test("r17: freshness bands equal a batch replay; shares cover the log") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lags = ev.groupBy(_._1 / 1000).values.flatMap { b =>
      val seal = b.map(_._2).max
      b.map(seal - _._2)
    }.toSeq
    def bandOf(l: Long): String =
      if (l == 0) "0_sealing_event"
      else if (l < 60000000L) "1_under_1m"
      else if (l < 3600000000L) "2_under_1h"
      else if (l < 86400000000L) "3_under_1d" else "4_over_1d"
    val expected = lags.groupBy(bandOf).toSeq.map { case (b, g) =>
      (b, g.size.toLong, g.max, g.size.toLong * 1000000L / lags.size)
    }.sortBy(_._1)
    val got = Replication.r17BatchFreshness(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected, "freshness diverges from the batch replay")
    // every event is in exactly one band and each batch has one sealer
    assert(got.map(_._2).sum === ev.length.toLong)
    assert(got.find(_._1 == "0_sealing_event").exists(_._2 >=
      ev.map(_._1 / 1000).distinct.length), "each batch needs a sealing event")
  }

  test("w26: trigram supports equal a per-user sequence replay") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tris = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e._2, e._3)).map(_._4).sliding(3)
        .filter(_.size == 3).map(t => (u, (t(0), t(1), t(2))))
    }
    val expected = tris.groupBy(_._2).toSeq.map { case ((a, b, c), g) =>
      (a, b, c, g.size.toLong, g.map(_._1).distinct.size.toLong)
    }.sortBy { case (a, b, c, n, _) => (-n, a, b, c) }
    val got = Events.w26SequencePatterns(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected, "supports diverge from the sequence replay")
    // conservation: every user with n >= 3 events contributes n-2 trigrams
    val total = ev.groupBy(_._1).values
      .map(g => math.max(0, g.size - 2).toLong).sum
    assert(got.map(_._4).sum === total, "trigram occurrences must conserve")
  }

  test("p23: semantic decontamination equals a replay; every planted leak is caught") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def splitOf(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }; s
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val evals = vecs.filter { case (id, _) => splitOf(id) != "train" }
    val planted = evals.collect { case (id, v) if id % 3 == 0 =>
      (id + 5000000L, Array.tabulate(64)(i =>
        v(i) * (1.0 + ((id + i) % 7 - 3) / 1000.0)))
    }
    val train = vecs.filter { case (id, _) => splitOf(id) == "train" } ++ planted
    val expected = (for {
      (tid, tv) <- train; (eid, ev) <- evals
      c = cosD(tv, ev) if c >= 0.95
    } yield (tid, eid, c)).sortBy(r => (r._1, r._2)).toSeq
    val got = Vectors.p23SemanticDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected, "contamination pairs diverge from the replay")
    // completeness: every planted leak is flagged against ITS eval source
    planted.foreach { case (tid, _) =>
      assert(got.exists(r => r._1 == tid && r._2 == tid - 5000000L),
        s"planted leak $tid escaped the gate")
    }
    assert(got.size === planted.length,
      "nothing but the planted leaks clears 0.95 in this space")
  }

  test("d44: the novelty curve equals a first-occurrence replay") {
    val raw = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val sets = raw.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.length >= 3) Some(id -> w.sliding(3).map(_.mkString(" ")).toSet)
      else None
    }.sortBy(_._1)
    val first = scala.collection.mutable.Map[String, Long]()
    sets.foreach { case (id, s) =>
      s.foreach(g => if (!first.contains(g)) first(g) = id) }
    val nDocs = raw.length.toLong
    val per = sets.map { case (id, s) =>
      (id, s.size.toLong, s.count(first(_) == id).toLong) }
    val expected = per.groupBy { case (id, _, _) => id * 10 / nDocs }.toSeq
      .map { case (d, g) =>
        (d, g.size.toLong, g.map(_._2).sum, g.map(_._3).sum,
          g.map(_._3).sum * 1000000L / g.map(_._2).sum) }.sortBy(_._1)
    val got = Documents.d44NoveltyCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "novelty diverges from the first-occurrence replay")
    // a shingle's first occurrence is unique: novel counts conserve
    assert(got.map(_._4).sum === first.size.toLong,
      "novel counts must sum to the distinct-shingle count")
  }

  test("p24: slot apportionment replays Hamilton's method exactly and conserves slots") {
    val toks = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        Option(r.getString(1)).getOrElse("").split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }.toSeq
    val total = toks.map(_._2).sum
    val expected = Seq(100L, 1000L, 10000L).flatMap { n =>
      val q = toks.map { case (s, t) => (s, t, t * n / total, (t * n) % total) }
      val leftover = n - q.map(_._3).sum
      val bump = q.sortBy { case (s, _, _, r) => (-r, s) }
        .take(leftover.toInt).map(_._1).toSet
      q.map { case (s, t, fl, _) =>
        val alloc = fl + (if (bump(s)) 1L else 0L)
        (n, s, t, alloc, alloc * 1000000L / n - t * 1000000L / total)
      }
    }.sortBy(r => (r._1, r._2))
    val got = Pipeline.p24SlotApportionment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "apportionment diverges from the Hamilton replay")
    // every slot assigned; no source off its ideal share by > 1 slot
    Seq(100L, 1000L, 10000L).foreach { n =>
      val rows = got.filter(_._1 == n)
      assert(rows.map(_._4).sum === n, s"epoch $n: slots must conserve")
      rows.foreach { case (_, s, t, alloc, _) =>
        val ideal = t.toDouble * n / total
        assert(math.abs(alloc - ideal) < 1.0 + 1e-9,
          s"epoch $n source $s: |$alloc - $ideal| >= 1 slot")
      }
    }
  }

  test("d45: the threshold sweep equals a pair replay and is monotone in the gate") {
    val raw = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val sets = raw.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.length >= 3) Some(id -> w.sliding(3).map(_.mkString(" ")).toSet)
      else None
    }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity)
      .map { case (s, o) => (s, o.size) }
    val capped = sets.map { case (id, s) =>
      id -> s.filter(df(_) <= Documents.D5MaxShingleDf) }
    val ids = sets.keys.toSeq.sorted
    val jacs = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (capped(a) & capped(b)).size.toLong if inter > 0
    } yield (a, b, inter * 1000000L / (sets(a).size + sets(b).size - inter))
    val expected = Seq(500000L, 700000L, 800000L, 900000L).map { t =>
      val hit = jacs.filter(_._3 >= t)
      (t, hit.size.toLong, hit.map(p => math.max(p._1, p._2)).distinct.size.toLong)
    }.map { case (t, np, nd) => (t, np, nd, np * 1000000L / nd) }
    val got = Documents.d45ThresholdSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, "sweep diverges from the pair replay")
    // tightening the gate can only shrink both counts
    got.sliding(2).foreach {
      case Seq((_, p1, d1, _), (t, p2, d2, _)) =>
        assert(p2 <= p1 && d2 <= d1, s"gate $t grew the pair or doc count")
      case _ =>
    }
  }

  test("p25: overlap inflation equals p1's real chunks and coverage is exact") {
    // replay from p1's ACTUAL chunk output, not from the formula — the
    // audit must describe the delivery p1 really makes
    val chunks = Pipeline.p1Chunking(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lens = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        Option(r.getString(1)).getOrElse("").split(" ", -1).length.toLong))
      .filter(_._2 >= 1).toMap
    val per = chunks.groupBy(_._1).map { case (d, g) =>
      (d, lens(d), g.size.toLong, g.map(_._3).sum) }
    def bandOf(nc: Long): String =
      if (nc == 1) "0_single" else if (nc <= 4) "1_2_to_4" else "2_5_plus"
    val expected = per.groupBy { case (_, _, nc, _) => bandOf(nc) }.toSeq
      .map { case (b, g) =>
        val (ct, et) = (g.map(_._2).sum, g.map(_._4).sum)
        (b, g.size.toLong, ct, et, (et - ct) * 1000000L / ct)
      }.sortBy(_._1)
    val got = Pipeline.p25OverlapAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "inflation diverges from p1's real chunk output")
    // coverage exactness: the union of p1's chunk spans is [1, n] per doc
    per.foreach { case (d, n, nc, _) =>
      val covered = (0L until nc).flatMap { k =>
        (k * 48 + 1) to math.min(n, k * 48 + 64) }.distinct.size
      assert(covered === n, s"doc $d: chunk union covers $covered of $n")
    }
  }

  test("w27: association rules equal a session-basket replay") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gap = 4L * 3600 * 1000000
    val baskets = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      val islands = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.Set[String]())
      var prev = Long.MinValue
      sorted.foreach { case (_, us, _, tp) =>
        if (prev != Long.MinValue && us - prev >= gap)
          islands += scala.collection.mutable.Set[String]()
        islands.last += tp
        prev = us
      }
      islands.map(_.toSet)
    }.toSeq
    val n = baskets.size.toLong
    val tc = baskets.flatten.groupBy(identity)
      .map { case (t, o) => (t, o.size.toLong) }
    val expected = baskets.flatMap(b =>
        for (a <- b; c <- b if a < c) yield (a, c))
      .groupBy(identity).toSeq
      .map { case ((a, c), o) =>
        val ab = o.size.toLong
        (a, c, n, tc(a), tc(c), ab, ab * 1000000L / n,
          ab * 1000000L / tc(a), ab * 1000000L / tc(c))
      }.sortBy(r => (r._1, r._2))
    val got = Events.w27AssociationRules(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(got.toSeq === expected, "rules diverge from the basket replay")
    // confidence can never exceed 1e6, support never exceeds confidence
    got.foreach { case (_, _, _, _, _, _, s, ca, cb) =>
      assert(ca <= 1000000L && cb <= 1000000L && s <= ca && s <= cb)
    }
  }

  test("v27: per-subspace distortion equals a full coder replay") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) v").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2).toArray))
    val cents = vecs.groupBy(_._2).map { case (lab, g) =>
      lab -> Array.tabulate(64) { i =>
        (g.map(v => math.floor(v._3(i) * 1e9).toLong).sum / g.size) / 1e9 }
    }.toSeq.sortBy(_._1)
    def subErr(a: Array[Double], off: Int, b: Array[Double], boff: Int): Double = {
      var s = 0.0; var i = 0
      while (i < 16) {
        val d = a(off + i) - b(boff + i); s += d * d; i += 1
      }; s
    }
    val errs = vecs.flatMap { case (_, _, v) =>
      (0 until 4).map { m =>
        val best = cents.map { case (c, cv) => (subErr(v, m * 16, cv, m * 16), c) }
          .minBy(identity) // (err asc, cell asc) — the coder's tie rule
        (m.toLong, math.floor(best._1 * 1e9).toLong)
      }
    }
    val expected = errs.groupBy(_._1).toSeq.map { case (m, g) =>
      val es = g.map(_._2)
      (m, es.size.toLong, es.sum, es.sum / es.size, es.max)
    }.sortBy(_._1)
    val got = Vectors.v27PqDistortion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "distortion diverges from the coder replay")
  }

  test("p26: rendezvous placement replays; scaling 8->9 moves docs ONLY to the new shard") {
    val ids = Tables.load(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    def weight(s: Int, id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"shard:$s:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def assign(n: Int, id: Long): Int =
      (0 until n).map(s => (weight(s, id), -s)).max._2 * -1
    val pairs = ids.map(id => (assign(8, id), assign(9, id)))
    val expected = (0 to 8).map { s =>
      (s.toLong,
        pairs.count(_._1 == s).toLong,
        pairs.count(_._2 == s).toLong,
        pairs.count(p => p._2 == s && p._1 != p._2).toLong,
        pairs.count(p => p._1 == s && p._1 != p._2).toLong)
    }
    val out = Pipeline.p26RendezvousShards(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out === expected, "placement diverges from the rendezvous replay")
    // THE rendezvous property: arrivals land exclusively on the new shard
    out.filter(_._1 < 8).foreach { case (s, _, _, arrived, _) =>
      assert(arrived === 0L, s"shard $s received docs on scale-up")
    }
    assert(out.last._4 === out.map(_._5).sum,
      "every departed doc must land on the new shard")
    // empty shards still report (r12 review finding): a 1-doc corpus
    // fills at most 2 of 9 shards; the rest must surface as all-zero
    // spine rows exactly as the oracle's generate_series emits them
    val tiny = Pipeline.p26RendezvousShards(spark, corpusDir(Seq((42L, "only doc"))))
      .collect()
    assert(tiny.map(_.getLong(0)).toSeq === (0L to 8L),
      "empty shards dropped from the report")
    assert(tiny.map(_.getLong(1)).sum === 1L && tiny.map(_.getLong(2)).sum === 1L)
  }

  test("d7: NULL-text documents never sketch — no phantom hamming-0 pairs") {
    // before the r12 fix, explode_outer gave every NULL-text doc
    // simhash 0, so any two NULL docs collided in all 20 triples and
    // emitted a hamming-0 pair the oracle (whose unnest drops them)
    // never produced
    val dir = corpusDir(Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, null), (4L, null)))
    val pairs = Documents.d7Simhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0L)),
      s"expected only the identical-text pair; got ${pairs.mkString(",")}")
  }

  test("corpus-augmenting queries refuse a corpus without id headroom") {
    // an id collision with the planted-clone offsets corrupts results
    // identically in both engines (oracle-unfalsifiable) — the guard
    // must fail loudly at construction instead
    val dir = corpusDir(Seq((2500000L, "far too big an id")))
    intercept[IllegalArgumentException] {
      Documents.d1ExactDedup(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Documents.d42Containment(spark, dir)
    }
  }

  test("d47: the agreement matrix replays over hand-built flag combinations") {
    // one doc per interesting flag pattern; the Scala replay applies
    // the SAME four rules, so a rule-semantics drift in either place
    // (engine vs intent) breaks the equality
    val texts = Seq[(Long, String)](
      (1L, "x" * 300 + " the end."), // long, stopword, no digits, punct
      (2L, "x" * 300), // long only
      (3L, "only the word."), // stopword + punct, short
      (4L, "1234567890" * 30), // long, all digits
      (5L, "short 123456."), // digits > 10%, punct, short
      (6L, "ok."), // punct only (plus low digits)
      (7L, "x" * 199 + " the 99999999999999999999999999999999999999999."),
      (8L, ""))
    val dir = corpusDir(texts)
    def flags(t: String): Array[Boolean] = {
      val digits = t.count(c => c >= '0' && c <= '9')
      val rt = t.reverse.dropWhile(_ == ' ').reverse
      Array(t.length >= 200, t.contains(" the "),
        digits * 10 < t.length,
        rt.nonEmpty && ".!?".contains(rt.last))
    }
    val names = Map(0 -> "len_200", 1 -> "stopword_the",
      2 -> "digit_lt_10pct", 3 -> "ends_punct")
    val fs = texts.map(t => flags(t._2))
    val expected = (for (a <- 0 to 3; b <- a + 1 to 3) yield {
      val both = fs.count(f => f(a) && f(b)).toLong
      val oa = fs.count(f => f(a) && !f(b)).toLong
      val ob = fs.count(f => !f(a) && f(b)).toLong
      val nn = fs.count(f => !f(a) && !f(b)).toLong
      val j = if (both + oa + ob == 0) null
        else java.lang.Long.valueOf(both * 1000000L / (both + oa + ob))
      (names(a), names(b), both, oa, ob, nn, j)
    }).sortBy(t => (t._1, t._2))
    val got = Documents.d47RuleAgreement(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) null else java.lang.Long.valueOf(r.getLong(6))))
    assert(got.toSeq === expected,
      "agreement matrix diverges from the rule replay")
    // cells partition the corpus: every pair row accounts for all docs
    got.foreach { case (a, b, both, oa, ob, nn, _) =>
      assert(both + oa + ob + nn === texts.size.toLong,
        s"pair ($a, $b) loses documents")
    }
  }

  test("d46: memorization risk equals an accounting replay over d16's spans") {
    val spans = Documents.d16SubstringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val perDoc = spans.groupBy(_._1).map { case (d, g) => (d, g.map(_._2).sum) }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("").split(" ", -1).length.toLong))
    val expected = docs.groupBy(_._2).toSeq.map { case (s, g) =>
      val dups = g.map(d => perDoc.getOrElse(d._1, 0L))
      (s, g.size.toLong, dups.count(_ > 0).toLong, g.map(_._3).sum, dups.sum,
        dups.sum * 1000000L / g.map(_._3).sum)
    }.sortBy(_._1)
    val got = Documents.d46MemorizationRisk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "risk diverges from the d16 span accounting")
    // dup mass is bounded by the corpus it lives in
    got.foreach { case (s, _, _, tot, dup, _) =>
      assert(dup <= tot, s"source $s: dup tokens exceed total")
    }
  }

  test("w28: error-recovery bands equal a sequence replay; errors conserve") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val recs = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._2, e._3))
      s.indices.collect {
        case i if s(i)._4 == "error" =>
          s.drop(i + 1).collectFirst {
            case (_, us, _, tp) if tp != "error" => us - s(i)._2 }
      }
    }.toSeq
    def bandOf(r: Option[Long]): String = r match {
      case None => "4_never"
      case Some(d) if d < 60000000L => "0_under_1m"
      case Some(d) if d < 3600000000L => "1_under_1h"
      case Some(d) if d < 86400000000L => "2_under_1d"
      case _ => "3_over_1d"
    }
    val total = recs.size.toLong
    val expected = recs.groupBy(bandOf).toSeq.map { case (b, g) =>
      (b, g.size.toLong, g.flatten.maxOption,
        g.size.toLong * 1000000L / total)
    }.sortBy(_._1)
    val got = Events.w28ErrorRecovery(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toSeq
    assert(got === expected, "recovery bands diverge from the sequence replay")
    assert(got.map(_._2).sum === ev.count(_._4 == "error").toLong,
      "every error lands in exactly one band")
  }

  test("v25: cluster-balanced sampling keeps sparse cells whole and quotas hot ones") {
    val got = Vectors.v25ClusterBalancedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val total = got.map(_._2).sum
    assert(total === Tables.load(spark, sf, "embeddings").count(),
      "cells do not partition the corpus")
    val quota = total * 9 / 10 / got.size
    got.foreach { case (cell, n, q, rate, kept, keptPpm) =>
      assert(q === quota, s"cell $cell: quota not the equal split")
      assert(rate === math.min(1000000L, quota * 1000000L / n),
        s"cell $cell: rate not the closed form")
      if (n <= quota)
        assert(rate === 1000000L && kept === n,
          s"cell $cell: a sparse cell must be kept whole")
      assert(kept <= n && keptPpm === kept * 1000000L / n)
    }
    // non-vacuous on the fixture: both branches present
    assert(got.exists(_._4 == 1000000L), "no cell was kept whole")
    assert(got.exists(_._4 < 1000000L), "no cell was downsampled")
    // determinism/composability: the same gate decides per vector, so
    // re-running yields the identical table (no sampling drift)
    val again = Vectors.v25ClusterBalancedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    assert(again === got.map(t => (t._1, t._5)))
  }

  test("v24: cell balance audits v6's layout — counts conserve, skew math exact") {
    val got = Vectors.v24CellBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val nEmb = Tables.load(spark, sf, "embeddings").count()
    // every vector lives in exactly ONE home cell
    assert(got.map(_._2).sum === nEmb, "cell populations do not partition the corpus")
    val total = got.map(_._2).sum
    val mean = total / got.size
    got.foreach { case (cell, n, share, skew, maxSkew) =>
      assert(share === n * 1000000L / total, s"cell $cell: share not the integer quotient")
      assert(skew === n * 1000000L / mean, s"cell $cell: skew not n/mean in ppm")
      assert(maxSkew === got.map(_._4).max, s"cell $cell: global max skew wrong")
    }
    // shares can only under-count by the DIV remainders
    val shareSum = got.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.size)
  }

  test("v31: two-stage rerank equals a coder+refine replay; refinement dominates the coarse top-3") {
    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }; s
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val mns = Array.tabulate(64)(i => vecs.map(_._2(i)).min)
    val mxs = Array.tabulate(64)(i => vecs.map(_._2(i)).max)
    // u8Code's exact operation order: (v - mn) * 255, THEN the divide
    def code(v: Array[Double]): Array[Double] = Array.tabulate(64) { i =>
      (if (mxs(i) > mns(i))
        math.min(255.0, math.max(0.0,
          math.floor(((v(i) - mns(i)) * 255.0) / (mxs(i) - mns(i)))))
      else 0.0) - 128.0
    }
    val coded = vecs.map { case (id, v) => (id, v, code(v)) }
    val queries = coded.filter(_._1 < 10)
    val exact = queries.map { case (q, qv, _) =>
      q -> vecs.filter(_._1 != q).map { case (c, cv) => (c, cosD(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    }.toMap
    val expected = queries.flatMap { case (q, qv, qq) =>
      val pool = coded.filter(_._1 != q)
        .map { case (c, cv, cq) => (c, cv, dotD(qq, cq).toLong) }
        .sortBy { case (c, _, s) => (-s, c) }.take(30).zipWithIndex
        .map { case ((c, cv, _), i) => (c, cv, i + 1L) }
      pool.map { case (c, cv, cr) => (c, cr, cosD(qv, cv)) }
        .sortBy { case (c, _, s) => (-s, c) }.take(3).zipWithIndex
        .map { case ((c, cr, s), i) =>
          (q, i + 1L, c, s, cr, if (exact(q)(c)) 1L else 0L) }
    }.sortBy(r => (r._1, r._2)).toSeq
    val got = Vectors.v31RerankRefine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "v31 diverges from the coder+refine replay")
    // the refinement guarantee: an exact-top-3 member that made the
    // coarse pool ALWAYS reaches the final top-3 (exact cosine ranks it
    // there by definition); only a pool miss can escape
    queries.foreach { case (q, qv, qq) =>
      val poolIds = coded.filter(_._1 != q)
        .map { case (c, _, cq) => (c, dotD(qq, cq).toLong) }
        .sortBy { case (c, s) => (-s, c) }.take(30).map(_._1).toSet
      val finalIds = got.filter(_._1 == q).map(_._3).toSet
      exact(q).filter(poolIds).foreach(c => assert(finalIds(c),
        s"query $q: exact-top-3 member $c survived the pool but missed the rerank"))
    }
    // and refinement can only help: v31's measured recall >= v22's
    // pure-int8 ranking on the same queries
    val v22Hits = Vectors.v22Int8Ann(spark, sf).collect()
      .map(_.getLong(4)).sum
    assert(got.map(_._6).sum >= v22Hits,
      "reranking the coarse pool lost recall vs the pure int8 ranking")
  }

  test("p28: weighted sample equals a priority replay; per-source counts conserve") {
    val rows = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    val c = 1L << 62
    val expected = rows.map { case (id, src, nc) =>
        val wt = math.max(nc, 1L)
        val u = ((graft.functions.HashFunctions
          .md5NumberBigEndianLocal(s"ws:$id") % c) + c) % c
        (src, id, wt, u.toDouble / wt.toDouble)
      }
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy { case (_, id, _, pr) => (pr, id) }.take(5).zipWithIndex
          .map { case ((s, id, wt, pr), i) => (s, i + 1L, id, wt, pr) }
      }.sortBy(r => (r._1, r._2)).toSeq
    val got = Pipeline.p28WeightedSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got === expected, "p28 diverges from the priority replay")
    // count conservation: every source yields min(k, |source|) picks
    val perSrc = rows.groupBy(_._2).view.mapValues(_.length).toMap
    got.groupBy(_._1).foreach { case (s, g) =>
      assert(g.length === math.min(5, perSrc(s)), s"source $s pick count")
    }
    assert(got.map(_._1).distinct.length === perSrc.size,
      "a source with documents produced no picks")
  }
}

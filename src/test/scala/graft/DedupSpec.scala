package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Synthetic corpus with planted structure: 1↔2 near-dups (small edit),
  // 3 = exact copy of 1, 4..40 unrelated docs.
  private def corpus = {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = ((1 to 76).map(i => s"w$i") ++ Seq("x", "y", "z", "q"))
      .mkString(" ")
    val rows = Seq(1L -> base, 2L -> near, 3L -> base) ++
      (4L to 40L).map(i => i -> (1 to 60).map(j => s"u${i}_$j").mkString(" "))
    rows.toDF("doc_id", "text")
  }

  test("minhash LSH surfaces the planted near-dup pair, not random pairs") {
    val pairs = Dedup.minhashCandidatePairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact copy 1-3 must collide on every band; near pair 1-2 and its
    // transitive 2-3 on most; nothing else shares a band.
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 3L)) == 16L)
    assert(byPair.getOrElse((1L, 2L), 0L) >= 4L)
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(1L, 2L, 3L)) })
  }

  test("over-full LSH buckets are dropped: a planted 1000-member hot " +
      "cluster (the boilerplate/mirror shape) contributes ZERO " +
      "candidate pairs under the cap instead of ~500k quadratic ones, " +
      "while honest near-dup pairs still surface") {
    // 1000 copies of one boilerplate page (ids 1000..1999) — every
    // band bucket it hashes to holds 1000 members — plus the planted
    // near-dup pair (1, 2) and unrelated docs.
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = ((1 to 76).map(i => s"w$i") ++ Seq("x", "y", "z", "q"))
      .mkString(" ")
    val boiler = (1 to 70).map(i => s"b$i").mkString(" ")
    val hot = (Seq(1L -> base, 2L -> near) ++
      (3L to 40L).map(i => i -> (1 to 60).map(j => s"u${i}_$j").mkString(" ")) ++
      (1000L to 1999L).map(i => i -> boiler)).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(hot, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.forall { case (a, b) => a < 1000L && b < 1000L },
      s"hot-cluster pairs leaked: ${capped.count(p => p._1 >= 1000L)}")
    assert(capped.contains((1L, 2L)), "honest near-dup pair lost")
    // candidate volume is bounded by the non-hot corpus, not 1000²/2
    assert(capped.length < 100, s"unbounded candidates: ${capped.length}")
    // simhash: same guard, same planted cluster
    val simCapped = Dedup.simhashPairs(hot, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(simCapped.forall { case (a, b) => a < 1000L && b < 1000L })
    assert(simCapped.length < 100)
    // the default cap (10000) sits above this cluster: uncapped and
    // default-capped agree here, i.e. the guard is inert below its
    // threshold (the gate-data property d02/d03 rely on)
    val dflt = Dedup.minhashCandidatePairs(hot).count()
    val off = Dedup.minhashCandidatePairs(hot, maxBucket = 0).count()
    assert(dflt == off && dflt >= 1000L * 999L / 2)
  }

  test("ngram Jaccard ranks exact copy above near-dup, in [0,1]") {
    val j = Dedup.ngramJaccard(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 3L)) == 1.0)
    assert(j((1L, 2L)) > 0.8 && j((1L, 2L)) < 1.0)
  }

  test("exactDedup keeps min id and counts the copy group") {
    val groups = Dedup.exactDedup(corpus)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(1L) == 2L) // docs 1 and 3 share content, keep id 1
    assert(!groups.contains(3L))
  }

  test("simhashPairs hamming for the exact copy is zero") {
    // SimHash's 16-bit chunk banding guarantees candidates only up to
    // hamming 3, so the near-dup here is a single-token edit (hamming 8
    // under the fixed simPerms grid, chunk-caught); the 4-token edit
    // the minhash tests use sits beyond the banding guarantee.
    val oneEdit = ((1 to 79).map(i => s"w$i") ++ Seq("zz1")).mkString(" ")
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val simCorpus = (Seq(1L -> base, 2L -> oneEdit, 3L -> base) ++
      (4L to 40L).map(i => i -> (1 to 60).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(simCorpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 3L)) == 0L)
    assert(pairs((1L, 2L)) <= 24L)
  }

  test("dedupPipeline keeps exactly one of each planted dup group " +
      "(min id), all unrelated docs, and is deterministic") {
    val kept = Dedup.dedupPipeline(corpus, theta = 0.5)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 ↔ 2 near-dups and 3 an exact copy of 1 → one survivor: min id 1.
    assert(ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L))
    // Every unrelated doc survives.
    assert((4L to 40L).forall(ids.contains))
    // Survivor content is unique.
    val nMd5 = kept.select(md5(col("text"))).distinct().count()
    assert(nMd5 == ids.size)
    // Deterministic across runs.
    val again = Dedup.dedupPipeline(corpus, theta = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
  }

  test("keepBestDedup keeps the highest-quality cluster member, ties " +
      "to the smallest id, singletons always survive") {
    // Doc 2 is the LONGEST of the {1,2,3} cluster (extra tail words),
    // so keep-best must choose it where keep-min chose 1.
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val longer = ((1 to 76).map(i => s"w$i") ++ Seq("x", "y", "z", "q",
      "extra", "tail", "words", "here")).mkString(" ")
    val rows = Seq(1L -> base, 2L -> longer, 3L -> base) ++
      (4L to 40L).map(i => i -> (1 to 60).map(j => s"u${i}_$j").mkString(" "))
    val docs = rows.toDF("doc_id", "text")
    val ids = Dedup.keepBestDedup(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(2L) && !ids.contains(1L) && !ids.contains(3L),
      s"expected best-quality keeper 2, got $ids")
    assert((4L to 40L).forall(ids.contains))
    // Equal quality (1 vs its exact copy 3) ties to the smallest id.
    val tied = Seq(1L -> base, 3L -> base).toDF("doc_id", "text")
    val tiedIds = Dedup.keepBestDedup(tied)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiedIds == Set(1L))
    // A custom quality column inverts the choice.
    val custom = Dedup.keepBestDedup(docs,
        quality = -col("doc_id").cast("long"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(custom.contains(1L) && !custom.contains(2L))
  }

  test("d16 exact substring dedup: coverage merges overlapping grams, " +
      "counts within-doc repeats d10 misses, agrees with d10 cross-doc") {
    // doc 1 & 2 share a 10-word run (cross-doc duplication, spans of
    // 8-grams overlap); doc 3 repeats its OWN 8-gram twice with no
    // cross-doc twin (d10-invisible); doc 4 is clean.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val rows = Seq(
      1L -> s"$shared a1 a2 a3 a4 a5 a6 a7 a8 a9 a10",
      2L -> s"b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 $shared",
      3L -> s"$rep c1 c2 c3 c4 $rep",
      4L -> (1 to 30).map(i => s"z$i").mkString(" "))
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, n = 8).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1/2: the shared 10-run has 3 duplicated 8-grams merging to
    // ONE maximal span of 10 tokens
    Seq(1L, 2L).foreach { d =>
      assert(got(d).getLong(2) == 10L, s"doc $d dup tokens")     // n_dup_tokens
      assert(got(d).getLong(4) == 1L, s"doc $d span count")      // n_dup_spans
      assert(got(d).getLong(5) == 10L, s"doc $d max span")       // max_span
      assert(got(d).getLong(7) == 3L, s"doc $d xdoc grams")      // xdoc grams
    }
    // doc 3: two separated occurrences of the same 8-gram — WITHIN-doc
    // duplication: 2 spans × 8 tokens; cross-doc count is ZERO, which
    // is exactly what d10 reports for it (the approximation error).
    assert(got(3L).getLong(2) == 16L && got(3L).getLong(4) == 2L)
    assert(got(3L).getLong(6) == 2L && got(3L).getLong(7) == 0L)
    assert(got(4L).getLong(2) == 0L && got(4L).getLong(4) == 0L)
    // agreement bound vs d10 on the same corpus: the cross-doc gram
    // count equals d10's n_dup_spans for EVERY doc, and the
    // occurrence-level count never undershoots it.
    val d10 = Dedup.spanDedupStats(docs, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, r) =>
      assert(r.getLong(7) == d10(id), s"doc $id xdoc vs d10")
      assert(r.getLong(6) >= r.getLong(7), s"doc $id occ >= xdoc")
    }
  }

  private def words(p: String, k: Int) = (1 to k).map(i => s"$p$i").mkString(" ")
  private def d16(rows: Seq[(Long, String)]) =
    Dedup.exactSubstringDedup(rows.toDF("doc_id", "text"), n = 8)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("d16 span fold: an occurrence starting at previous end + 1 " +
      "extends the span; one token of gap opens a new one") {
    val got = d16(Seq(
      1L -> s"${words("a", 8)} ${words("b", 8)}", // a-gram @1, b-gram @9
      2L -> s"${words("a", 8)} x1 x2 x3",
      3L -> s"y1 y2 ${words("b", 8)}",
      4L -> s"${words("c", 8)} g ${words("d", 8)}", // c @1, d @10
      5L -> words("c", 8),
      6L -> words("d", 8)))
    // doc 1: [1,8] and [9,16] are adjacent → one 16-token span
    assert(got(1L).getLong(2) == 16L && got(1L).getLong(4) == 1L &&
      got(1L).getLong(5) == 16L && got(1L).getLong(6) == 2L)
    // doc 4: [1,8] and [10,17] leave token 9 uncovered → two spans
    assert(got(4L).getLong(2) == 16L && got(4L).getLong(4) == 2L &&
      got(4L).getLong(5) == 8L && got(4L).getLong(6) == 2L)
  }

  test("d16/d10: a doc shorter than n tokens and an empty-text doc " +
      "each keep their zero row") {
    val rows = Seq(1L -> words("s", 3), 2L -> "",
      3L -> words("a", 12), 4L -> words("a", 12))
    val got = d16(rows)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    for ((id, nTok) <- Seq(1L -> 3L, 2L -> 1L)) {
      val r = got(id)
      assert(r.getLong(1) == nTok, s"doc $id n_tokens")
      assert(r.getDouble(3) == 0.0, s"doc $id dup_token_frac")
      assert((Seq(2, 4, 5, 6, 7).map(r.getLong)).forall(_ == 0L),
        s"doc $id: $r")
    }
    assert(got(3L).getLong(2) == 12L && got(3L).getDouble(3) == 1.0)
    val d10 = Dedup.spanDedupStats(rows.toDF("doc_id", "text"), n = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(d10.keySet == Set(1L, 2L, 3L, 4L))
    for (id <- Seq(1L, 2L))
      assert(d10(id).getLong(1) == 0L && d10(id).getLong(2) == 0L &&
        d10(id).getDouble(3) == 0.0, s"d10 doc $id")
    assert(d10(3L).getLong(1) == 5L && d10(3L).getLong(2) == 5L)
  }

  test("d16: a gram occurring 3x in one doc and once in another counts " +
      "every occurrence, all of them cross-doc") {
    val g = words("g", 8)
    val got = d16(Seq(1L -> s"$g p1 $g p2 $g", 2L -> s"q1 q2 $g",
      3L -> words("z", 20)))
    // doc 1: occurrences @1, @10, @19 — separated by p1/p2, three spans
    assert(got(1L).getLong(6) == 3L && got(1L).getLong(7) == 3L)
    assert(got(1L).getLong(2) == 24L && got(1L).getLong(4) == 3L &&
      got(1L).getLong(5) == 8L)
    assert(got(2L).getLong(6) == 1L && got(2L).getLong(7) == 1L &&
      got(2L).getLong(2) == 8L)
    assert(got(3L).getLong(6) == 0L && got(3L).getLong(7) == 0L)
  }

  test("Scale.partitionCount: the planned-scan fast path agrees with " +
      "df.rdd on scans, filtered scans, bucket-free multi-file scans and " +
      "plans that fall back (aggregates, unions, joins)") {
    import graft.util.Scale
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = graft.util.Scratch.dir("scale_partitions")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val split = spark.read.parquet(dir)
    val cases = Seq(
      docs, docs.filter(col("doc_id") % 2 === 0).select(col("text")),
      split, split.filter(col("doc_id") > 10),
      docs.groupBy(col("source")).count(), docs.union(split),
      docs.join(split.select(col("doc_id")), "doc_id"))
    cases.foreach { df =>
      assert(Scale.partitionCount(df) == df.rdd.getNumPartitions,
        df.queryExecution.sparkPlan.treeString)
    }
  }

  test("Scale.rowCountUpperBound: exact footer count on a plain " +
      "parquet scan with ZERO jobs run; sound (never under) through " +
      "Project/Filter/Sample/Union; None when the plan could grow " +
      "rows (join) or the leaf isn't parquet — the bucket guard's " +
      "short-circuit is free on gate/bench data") {
    import graft.util.Scale
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    // plain scan: exact, and computed without launching a job
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    val bound = Scale.rowCountUpperBound(docs)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    assert(bound.contains(n), s"bound=$bound n=$n")
    assert(after == before, "rowCountUpperBound launched a Spark job")
    // row-reducing nodes: still Some, still an upper bound
    val filtered = docs.filter(col("doc_id") % 2 === 0).select("doc_id")
    val fb = Scale.rowCountUpperBound(filtered)
    assert(fb.exists(_ >= filtered.count()) && fb.contains(n))
    assert(Scale.rowCountUpperBound(docs.sample(0.1, 42L)).contains(n))
    assert(Scale.rowCountUpperBound(docs.union(docs)).contains(2 * n))
    // row-growing / opaque plans: None (caller falls back to count())
    assert(Scale.rowCountUpperBound(
      docs.join(docs.select(col("doc_id")), "doc_id")).isEmpty)
    import spark.implicits._
    assert(Scale.rowCountUpperBound(
      Seq(1, 2).toDF("x").localCheckpoint()).isEmpty)
  }
}

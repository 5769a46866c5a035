package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.CrossHash
import graft.operators.{Relational, Transforms}

/** Property-based specs (SURVEY.md §5.3): invariants that must hold for
  * arbitrary inputs, not just fixtures. Plain scalacheck `Properties`
  * (the scalatest bridge isn't in the offline dependency set).
  */
object PropertySpec extends Properties("graft") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  property("h60 column == h60 driver-side") =
    forAll(Gen.listOfN(10, word)) { ss =>
      ss.isEmpty || {
        val fromSpark = ss.toDF("s").select(CrossHash.h60(col("s"))).as[Long].collect().toSeq
        fromSpark == ss.map(CrossHash.h60Local)
      }
    }

  property("rename then inverse rename is identity") =
    forAll(Gen.listOfN(4, word).map(_.distinct)) { names =>
      names.size != 4 || {
        val df = Seq((1, 2, 3, 4)).toDF(names: _*)
        val fwd = names.map(n => n -> s"${n}_x").toMap
        val out = Transforms.renameColumns(
          Transforms.renameColumns(df, fwd), fwd.map(_.swap))
        out.columns.toSeq == df.columns.toSeq
      }
    }

  property("daily extract ⊆ full extract, equals the day partition") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(1, 28), Gen.choose(0L, 5L))),
        Gen.choose(1, 28)) { (rows, day) =>
      rows.isEmpty || {
        val df = rows.zipWithIndex.map { case ((d, v), i) =>
          (i.toLong, Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), v)
        }.toDF("id", "ts", "v")
        val inc = sources.Tables.incremental(df, "ts", java.time.LocalDate.parse(f"2024-01-$day%02d"))
        val incIds = inc.select("id").as[Long].collect().toSet
        val expected = rows.zipWithIndex.collect { case ((d, _), i) if d == day => i.toLong }.toSet
        incIds == expected
      }
    }

  property("jaccard: symmetric, reflexive=1, matches set formula") =
    forAll(Gen.listOfN(6, word), Gen.listOfN(6, word)) { (a, b) =>
      a.isEmpty || b.isEmpty || {
        val r = Seq((a, b)).toDF("a", "b")
          .select(
            CrossHash.jaccard(array_distinct(col("a")), array_distinct(col("b"))).as("ab"),
            CrossHash.jaccard(array_distinct(col("b")), array_distinct(col("a"))).as("ba"),
            CrossHash.jaccard(array_distinct(col("a")), array_distinct(col("a"))).as("aa"))
          .head()
        val expected = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
        r.getDouble(0) == r.getDouble(1) && r.getDouble(2) == 1.0 &&
          math.abs(r.getDouble(0) - expected) < 1e-12
      }
    }

  property("cdcChunkEnds native == builtin, ascending, ends at len") =
    forAll(Gen.choose(0, 80).flatMap(k => Gen.listOfN(k, Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const('é')), (1, Gen.const('中')))))) { cs =>
      val s = cs.mkString
      // mask 4 so cuts actually occur at property-test string lengths
      val (nat, blt) = Seq(s).toDF("t")
        .select(
          operators.Text.cdcChunkEnds(col("t"), n = 4, mask = 4).as("nat"),
          operators.Text.cdcChunkEndsBuiltin(col("t"), n = 4, mask = 4).as("blt"))
        .as[(Seq[Int], Seq[Int])].head()
      nat == blt && nat == nat.sorted && nat.last == s.length && nat.distinct == nat
    }

  property("saltedJoin == plain join") =
    forAll(
      Gen.listOfN(25, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 100L))),
      Gen.listOfN(5, Gen.zip(Gen.choose(0L, 5L), word))) { (l, r) =>
      l.isEmpty || r.isEmpty || {
        val left = l.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
          .toDF("k", "v", "row_id")
        val right = r.distinct.toDF("k", "name")
        val plain = left.join(right, "k")
          .select("row_id", "name").as[(Long, String)].collect().sorted.toSeq
        val salted = Relational.saltedJoin(left, right, "k", salts = 4, saltSource = "row_id")
          .select("row_id", "name").as[(Long, String)].collect().sorted.toSeq
        salted == plain
      }
    }

  property("decontaminate: a planted shared 5-gram is always detected; disjoint vocabularies never flag") =
    forAll(Gen.listOfN(5, word), Gen.listOfN(8, word)) { (shared, noise) =>
      // three disjoint namespaces: the shared run, the bench/doc-1 noise,
      // and doc 2's PRIVATE vocabulary (doc 2 must share nothing with the
      // bench doc — not even noise grams)
      val sv = shared.map(w => s"s_$w")
      val nv = noise.map(w => s"n_$w")
      val mv = noise.map(w => s"m_$w")
      sv.toSet.size < 5 || {
        // doc 1 (train) carries the shared run; doc 2 (train) only its own
        // vocabulary; doc 3 (bench) carries the same shared run amid noise
        val docs = Seq(
          (1L, (nv.take(3) ++ sv).mkString(" ")),
          (2L, (mv ++ mv).mkString(" ")),
          (3L, (sv ++ nv.drop(3)).mkString(" "))
        ).toDF("doc_id", "text")
        val flagged = operators.Dedup.decontaminate(
            docs, "doc_id", CrossHash.wordShingles(CrossHash.tokens(col("text")), 5),
            col("doc_id") === 3L)
          .select("id").as[Long].collect().toSet
        flagged.contains(1L) && !flagged.contains(2L)
      }
    }

  property("boilerplateCoverage: bp_frac in [0,1], n_bp monotone in topK") =
    forAll(Gen.listOfN(6, Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e")))) { docsToks =>
      docsToks.isEmpty || {
        val df = docsToks.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
          .toDF("doc_id", "text")
        def run(k: Int) = operators.Text.boilerplateCoverage(
            df, "doc_id", CrossHash.wordShingles(CrossHash.tokens(col("text")), 3), topK = k)
          .select("id", "n_bp", "bp_frac").as[(Long, Long, Double)]
          .collect().map(r => r._1 -> ((r._2, r._3))).toMap
        val k2 = run(2); val k50 = run(50)
        k2.values.forall { case (_, f) => f >= 0.0 && f <= 1.0 } &&
          k2.keySet.forall(id => k2(id)._1 <= k50(id)._1)
      }
    }

  property("sqrtBalancedSample ⊆ input; min-count group fully kept") =
    forAll(Gen.choose(2, 6), Gen.choose(8, 24)) { (small, big) =>
      val rows = (1 to big).map(i => (i.toLong, "big")) ++
        (1 to small).map(i => (100L + i, "small"))
      val df = rows.toDF("id", "g")
      val kept = operators.Sampling.sqrtBalancedSample(
          df, col("g"), col("id").cast("string"), "p1")
        .select("id", "g").as[(Long, String)].collect().toSeq
      kept.toSet.subsetOf(rows.toSet) &&
        kept.count(_._2 == "small") == small
    }

  property("Hierarchy.flatten == driver-side recursion on random forests") =
    forAll(Gen.choose(2, 18).flatMap(n =>
      Gen.listOfN(n - 1, Gen.choose(0, Int.MaxValue - 1)))) { raws =>
      // parent(i) < i guarantees acyclic; node 0 is always a root, others
      // are roots with probability 1/4
      val parents: Vector[Option[Int]] = None +: raws.zipWithIndex.map {
        case (raw, idx) =>
          val i = idx + 1
          if (raw % 4 == 0) None else Some((raw / 4) % i)
      }.toVector
      val edges = parents.zipWithIndex
        .map { case (p, i) => (i.toLong, p.map(_.toLong)) }
      def expected(i: Int): (Long, Long) = parents(i) match {
        case None => (i.toLong, 0L)
        case Some(p) => val (r, d) = expected(p); (r, d + 1)
      }
      val out = operators.Hierarchy.flatten(edges.toDF("node", "parent"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      parents.indices.forall { i =>
        val (r, d) = expected(i)
        out(i.toLong) == ((r, d))
      }
    }

  property("mipsTopK ranking == exact inner-product ranking") =
    forAll(Gen.listOfN(8, Gen.listOfN(4, Gen.choose(0, 5)))) { vecs =>
      vecs.isEmpty || {
        // integer-valued vectors: dots are exact, and with |dot| ≤ 100 and
        // max norm ≤ 10 the 7-decimal augcos rounding cannot merge two
        // distinct integer dot products (spacing ≥ 1/100 ≫ 1e-7)
        val df = vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
          .toDF("vec_id", "embedding")
        val queries = df.filter(col("vec_id") < 2)
        val got = operators.Similarity
          .mipsTopK(queries, df, "vec_id", "embedding", k = 3)
          .select("query_id", "rank", "neighbor_id")
          .as[(Long, Long, Long)].collect().toSet
        val want = (0 until math.min(2, vecs.size)).flatMap { q =>
          vecs.zipWithIndex
            .filter(_._2 != q)
            .map { case (v, i) =>
              (v.zip(vecs(q)).map { case (a, b) => a * b }.sum, i) }
            .sortBy { case (dot, i) => (-dot, i) }
            .take(3).zipWithIndex
            .map { case ((_, i), r) => (q.toLong, r + 1L, i.toLong) }
        }.toSet
        got == want
      }
    }

  property("chunked block-matrix embeddingPairs == naive same-group join") =
    forAll(
      Gen.listOfN(24, Gen.listOfN(4, Gen.chooseNum(-5.0, 5.0))),
      Gen.chooseNum(1, 7)) { (vecs, chunkRows) =>
      vecs.isEmpty || {
        val df = vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray, (i % 3).toString) }
          .toDF("vec_id", "embedding", "grp")
        // tiny chunkRows forces a real multi-tile grid (up to 24 chunks)
        val got = operators.Dedup
          .embeddingPairs(df, "vec_id", "embedding", "grp",
            threshold = 0.2, chunkRows = chunkRows)
          .select("a", "b").as[(Long, Long)].collect().toSet
        // naive reference uses the SAME column expressions (dotD/l2Norm/
        // round), so arithmetic cancels and the property isolates the
        // tiling: every unordered same-group pair exactly once, none
        // lost at tile borders, none duplicated across tiles
        val v = df.select(col("grp"), col("vec_id").as("id"), col("embedding").as("e"))
          .withColumn("nrm", CrossHash.l2Norm(col("e")))
        val pairs = v.as("x").join(v.as("y"),
          col("x.grp") === col("y.grp") && col("x.id") < col("y.id"))
        // the same pairs pin the native graft_dot to its fold spec, bit
        // for bit on real-valued (summation-order-sensitive) operands
        val dotsAgree = pairs.filter(!CrossHash.dotD(col("x.e"), col("y.e"))
          .eqNullSafe(CrossHash.dotDFold(col("x.e"), col("y.e")))).isEmpty
        val want = pairs
          .select(col("x.id").as("a"), col("y.id").as("b"),
            round(CrossHash.dotD(col("x.e"), col("y.e"))
              / (col("x.nrm") * col("y.nrm")), 4).as("cos"))
          .filter(col("cos") >= 0.2)
          .select("a", "b").as[(Long, Long)].collect().toSet
        got == want && dotsAgree
      }
    }

  // NOTE: star-CC vs min-label-CC equivalence lives in
  // DedupSimilaritySpec over SEEDED random graphs, not here as a
  // scalacheck property: both algorithms are iterative multi-action
  // loops, so a 10-case forAll costs hundreds of scheduler round-trips
  // (measured >10 min wall) for no more coverage than a handful of
  // deterministic seeds exercising the same shapes.

  // keep runtime bounded: each property is a Spark job per case
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)
}

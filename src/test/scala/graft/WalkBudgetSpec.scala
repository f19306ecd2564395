package graft

import org.apache.spark.sql.DataFrame
import graft.functions.{Clusters, Corpus}

/** Hand-computable fixtures for the deterministic walk corpus
  * (Clusters.graphRandomWalkOn) and the greedy token-budget selection
  * (Corpus.corpusTokenBudgetOn). */
class WalkBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")

  test("walk: LCG draw replays by hand on the triangle graph") {
    // neighbors sorted by dst; r(w,k) = (w*1103515245 + k*12345 + 6789) mod 2^31
    // walk 1 (deg(1)=2, deg(3)=2): draws k=1..4 are odd,even,odd,even
    // -> 1 -> 3 -> 1 -> 3 -> 1
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L))
    val w1 = Clusters.graphRandomWalkOn(e)
      .filter($"walk_id" === 1L).orderBy("step")
      .select("node").as[Long].collect().toSeq
    assert(w1 === Seq(1L, 3L, 1L, 3L, 1L))
  }

  test("walk: every step follows an edge, every node starts one walk of full length") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val walks = Clusters.graphRandomWalkOn(e, steps = 3)
    val byWalk = walks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWalk.keySet === Set(1L, 2L, 3L, 4L))
    val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    byWalk.foreach { case (start, path) =>
      assert(path.length === 4)
      assert(path.head === start)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a, b)), s"($a,$b) not an edge")
      }
    }
  }

  test("node2vec: biased draw replays by hand (triangle + pendant)") {
    // graph 1-2,1-3,2-3,3-4; walk 2:
    //  k=1 prev=2: both nbrs classify "common" (w=2), r%4=0 -> 1
    //  k=2 prev=2 cur=1: return w=1 (dst 2), common w=2 (dst 3),
    //      r%3=1 lands on dst 3
    //  k=3 prev=1 cur=3: return 1 (dst1), common 2 (dst2), forward 4
    //      (dst4), r%7=2 lands on dst 2
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val w2 = Clusters.graphNode2vecWalkOn(e)
      .filter($"walk_id" === 2L).orderBy("step")
      .select("node").as[Long].collect().toSeq
    assert(w2 === Seq(2L, 1L, 3L, 2L))
  }

  test("node2vec: every step follows an edge and walks have full length") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val byWalk = Clusters.graphNode2vecWalkOn(e, steps = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byWalk.keySet === Set(1L, 2L, 3L, 4L))
    byWalk.foreach { case (start, path) =>
      assert(path.length === 4)
      assert(path.head === start)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a, b)), s"($a,$b) not an edge")
      }
    }
  }

  test("walk: negative node ids walk full length along edges") {
    // r(w, k) is the non-negative residue for a negative walk id too,
    // so `r mod degree` always ranks a neighbor
    val e = edges((-1L, -2L), (-2L, -3L), (-3L, -1L), (-3L, 4L), (4L, 5L))
    val byWalk = Clusters.graphRandomWalkOn(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byWalk.keySet === Set(-1L, -2L, -3L, 4L, 5L))
    byWalk.foreach { case (start, path) =>
      assert(path.length === Clusters.WalkSteps + 1, s"walk $start")
      assert(path.head === start)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet.contains((a, b)), s"($a,$b) not an edge")
      }
    }
  }

  test("walk: deterministic across runs") {
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val a = Clusters.graphRandomWalkOn(e)
      .orderBy("walk_id", "step").collect().toSeq
    val b = Clusters.graphRandomWalkOn(e)
      .orderBy("walk_id", "step").collect().toSeq
    assert(a === b)
  }

  test("skipgram: window bounds the pair fan-out; counts aggregate") {
    val walks = Seq((10L, 0L, 1L), (10L, 1L, 2L), (10L, 2L, 3L))
      .toDF("walk_id", "step", "node")
    val w2 = Clusters.graphSkipgramPairsOn(walks, window = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(w2 === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 1L, 1L),
      (2L, 3L, 1L), (3L, 1L, 1L), (3L, 2L, 1L)))
    val w1 = Clusters.graphSkipgramPairsOn(walks, window = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(w1 === Set((1L, 2L, 1L), (2L, 1L, 1L),
      (2L, 3L, 1L), (3L, 2L, 1L)))
  }

  test("skipgram: repeated co-occurrences across walks sum into n_pairs") {
    val walks = Seq((1L, 0L, 7L), (1L, 1L, 8L), (2L, 0L, 7L), (2L, 1L, 8L))
      .toDF("walk_id", "step", "node")
    val got = Clusters.graphSkipgramPairsOn(walks, window = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((7L, 8L, 2L), (8L, 7L, 2L)))
  }

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("budget: prefix cut by (ttr desc, doc_id) — hand case selects docs 1 and 3") {
    // toks: d1=3 (ttr 1000), d2=4 (ttr 250), d3=2 (ttr 1000), d4=4 (ttr 500)
    // total 13, div 2 -> B=6; order d1(cum 3), d3(cum 5), d4(cum 9 STOP)
    val d = docs((1L, "a b c"), (2L, "a a a a"), (3L, "x y"), (4L, "p p q q"))
    val got = Corpus.corpusTokenBudgetOn(d, budgetDiv = 2L)
      .select("doc_id", "cum_toks").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L), (3L, 5L)))
  }

  test("budget: the cut lands INSIDE a score bin (in-bin doc_id order completes the take)") {
    // same corpus, div 3 -> B=4: d1 (cum 3) fits, d3 (cum 5) overflows
    val d = docs((1L, "a b c"), (2L, "a a a a"), (3L, "x y"), (4L, "p p q q"))
    val got = Corpus.corpusTokenBudgetOn(d, budgetDiv = 3L)
      .select("doc_id").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("budget: cum_toks equals the global prefix sum in priority order") {
    val d = docs((1L, "a b"), (2L, "c c c"), (3L, "d e f"), (4L, "g g"))
    val r = Corpus.corpusTokenBudgetOn(d, budgetDiv = 1L) // keep everything
      .orderBy($"ttr_milli".desc, $"doc_id")
      .select("cum_toks", "toks").as[(Long, Long)].collect().toSeq
    val expected = r.map(_._2).scanLeft(0L)(_ + _).tail
    assert(r.map(_._1) === expected)
  }

  test("node2vec: the adjacency-array spelling draws IDENTICAL walks " +
    "to the join spelling (same LCG, same cumulative line) on the " +
    "sf corpus") {
    import graft.functions.Clusters
    val e = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L),
      (3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L), (2L, 5L), (5L, 2L),
      (5L, 6L), (6L, 5L), (6L, 1L), (1L, 6L)))
      .toDF("src", "dst")
    val a = Clusters.graphNode2vecWalkOn(e, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val b = Clusters.graphNode2vecWalkAdjOn(e, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(a == b && a.nonEmpty)
    // the same graph on ids -6..-1: negative walk ids draw the same
    // non-negative residue in both spellings, so every walk keeps all
    // of its steps
    val neg = e.select(($"src" - 7L).as("src"), ($"dst" - 7L).as("dst"))
    val na = Clusters.graphNode2vecWalkOn(neg, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val nb = Clusters.graphNode2vecWalkAdjOn(neg, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(na == nb && na.size == 6 * 5)
    // and on ids shifted by 10^10: walk_id * 1103515245 would leave
    // the long range, so the draw reduces the id mod 2^31 first
    val big = e.select(($"src" + 10000000000L).as("src"),
      ($"dst" + 10000000000L).as("dst"))
    val ba = Clusters.graphNode2vecWalkOn(big, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val bb = Clusters.graphNode2vecWalkAdjOn(big, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(ba == bb && ba.size == 6 * 5)
    // and on the real catalog corpus: the JOIN spelling vs the
    // ADJACENCY spelling (the catalog key delegates to the latter,
    // so comparing through graphNode2vecWalk would be a tautology)
    val ca = Clusters.graphNode2vecWalkOn(
      Clusters.bipartiteEdges(spark, sf))
      .collect().map(_.toString).toSet
    val cb = Clusters.graphNode2vecWalkAdjOn(
      Clusters.bipartiteEdges(spark, sf))
      .collect().map(_.toString).toSet
    assert(ca == cb && ca.nonEmpty)
  }
}

package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.functions.{Clusters, Iterates, Spanning}

/** The loop skeleton (functions.Iterates): the shuffle-width hold
  * leaves the session conf as it found it, the width clamp, the
  * convergence budget every fixpoint loop shares, outputs that do not
  * depend on the width or AQE, that no loop holds a width outside the
  * skeleton, and the rule that library code takes no settings from
  * the environment. */
class IteratesSpec extends SparkSpecBase {
  import spark.implicits._

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  test("withWidth leaves the session conf as it found it: plain, nested " +
    "and a throwing body") {
    val entry = spark.conf.getAll
    assert(!entry.contains(AqeKey), "the test session leaves AQE unset")
    Iterates.withWidthFor(spark, 1L) {
      assert(spark.conf.get(ShuffleKey) == "1")
      assert(spark.conf.get(AqeKey) == "false")
    }
    assert(spark.conf.getAll == entry)
    Iterates.withWidthFor(spark, 3000000L) {
      assert(spark.conf.get(ShuffleKey) == "3")
      Iterates.withWidthFor(spark, 1L) {
        assert(spark.conf.get(ShuffleKey) == "1")
      }
    }
    assert(spark.conf.getAll == entry)
    intercept[ArithmeticException] {
      Iterates.withWidthFor(spark, 1L)(throw new ArithmeticException("round"))
    }
    assert(spark.conf.getAll == entry)
    // a key the session HAD set comes back with its value
    spark.conf.set(AqeKey, "true")
    try {
      val set = spark.conf.getAll
      Iterates.withWidthFor(spark, 1L)(())
      assert(spark.conf.getAll == set)
    } finally spark.conf.unset(AqeKey)
    assert(spark.conf.getAll == entry)
  }

  test("widthFor is ceil(rows / 1M) clamped to [1, session width]") {
    val session = spark.conf.get(ShuffleKey).toInt
    assert(session >= 2, "the test session is wider than one partition")
    assert(Iterates.widthFor(spark, -5L) == 1)
    assert(Iterates.widthFor(spark, 0L) == 1)
    assert(Iterates.widthFor(spark, 1000000L) == 1)
    assert(Iterates.widthFor(spark, 1000001L) == 2)
    assert(Iterates.widthFor(spark, 1000000L * session + 1L) == session)
    assert(Iterates.widthFor(spark, Long.MaxValue) == session)
  }

  test("fixpoint runs until a round converges, throws with its label past " +
    "maxIter, and releases what each round persisted") {
    val held = collection.mutable.ArrayBuffer.empty[DataFrame]
    def countTo(target: Int, maxIter: Int): Int =
      Iterates.fixpoint(spark, "count-up", maxIter, 0)(_ => 1L) {
        (n, round) =>
          assert(round.index == n)
          held += round.persist(Seq(n).toDF("n"))
          (n + 1, n + 1 == target)
      }
    assert(countTo(3, 3) == 3)
    val e = intercept[IllegalStateException](countTo(3, 2))
    assert(e.getMessage == "count-up did not converge within 2 rounds")
    intercept[IllegalStateException](countTo(1, 0))
    assert(held.size == 5)
    assert(held.forall(_.storageLevel == StorageLevel.NONE))
  }

  /** Each loop on a small input that needs exactly `rounds` rounds: its
    * converged result at that budget, and a throw one round short. */
  private case class Budget(loop: String, rounds: Int,
      run: Int => DataFrame, expected: Set[Seq[Long]])

  private lazy val budgets: Seq[Budget] = {
    val chain12 = (1L until 12L).map(i => (i, i + 1)).toDF("da", "db")
    val chain20 = (1L until 20L).map(i => (i, i + 1)).toDF("da", "db")
    val path5 = (1L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    // two triangles sharing edge 1-3: at k=4 round 1 drops the
    // support-1 edges, round 2 the exposed 1-3
    val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 4L))
      .toDF("a", "b")
    // a weighted path (a tree, so the forest is every edge) whose
    // alternating weights make Boruvka merge pairs of components
    val wpath = (1L until 9L)
      .map(i => (i, i + 1, if (i % 2 == 0) 10 + i else i))
      .toDF("src", "dst", "w")
    val dchain = (1L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    def label(n: Long) = (1L to n).map(i => Seq(i, 1L)).toSet
    Seq(
      Budget("connected components", 5,
        m => Clusters.connectedComponentsOn(chain12, m), label(12)),
      Budget("alternating star", 6,
        m => Clusters.connectedComponentsAltStarOn(chain20, m), label(20)),
      Budget("k-core peel", 3, m => Clusters.kcoreOn(path5, 2, m), Set()),
      Budget("k-truss peel", 2, m => Clusters.trussOn(bridged, 4, m), Set()),
      Budget("Boruvka", 3, m => Spanning.minimumSpanningForestOn(wpath, m),
        (1L until 9L).map(i => Seq(i, i + 1, if (i % 2 == 0) 10 + i else i))
          .toSet),
      Budget("transitive closure", 4,
        m => Spanning.transitiveClosureOn(dchain, m),
        (for (u <- 1L to 9L; v <- (u + 1) to 9L) yield Seq(u, v)).toSet),
      Budget("min-plus closure", 4,
        m => Spanning.minPlusClosureOn(dchain, m),
        (for (u <- 1L to 9L; v <- 1L to 9L)
          yield Seq(u, v, math.abs(u - v))).toSet))
  }

  test("every convergence loop keeps its round budget: converged at " +
    "maxIter = R, throws at R - 1, conf untouched either way") {
    val entry = spark.conf.getAll
    budgets.foreach { b =>
      val got = b.run(b.rounds).collect()
        .map(r => r.toSeq.map(_.asInstanceOf[Long])).toSet
      assert(got == b.expected, b.loop)
      val e = intercept[IllegalStateException](b.run(b.rounds - 1).collect())
      assert(e.getMessage ==
        s"${b.loop} did not converge within ${b.rounds - 1} rounds")
      assert(spark.conf.getAll == entry, b.loop)
    }
  }

  /** The fixed-round loops on one small graph with a negative id
    * (betweenness runs two: the forward levels and the backward δ
    * rounds), and the two peels again on it, where, unlike their
    * budget inputs, rows survive. */
  private lazy val onSmallGraph: Seq[(String, () => DataFrame)] = {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (-7L, 1L), (8L, 9L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq(1L, 5L, 8L).toDF("seed")
    Seq(
      "katz hops" -> (() => Clusters.graphKatzOn(und, 3)),
      "bfs hops" -> (() => Clusters.graphBfsOn(und, 4)),
      "harmonic hops" -> (() => Clusters.graphHarmonicOn(und, seeds, 4)),
      "betweenness" -> (() => Clusters.graphBetweennessOn(und, seeds, 4)),
      "label propagation" -> (() => Clusters.labelPropagationOn(und, 2)),
      "random walk" -> (() => Clusters.graphRandomWalkOn(und)),
      "node2vec walk" -> (() => Clusters.graphNode2vecWalkOn(und)),
      "node2vec adjacency walk" ->
        (() => Clusters.graphNode2vecWalkAdjOn(und)),
      "k-core peel, triangles left" -> (() => Clusters.kcoreOn(und, 2)),
      "k-truss peel, triangles left" -> (() => Clusters.trussOn(und, 3)))
  }

  test("every width-holding loop returns the same rows at width 1 without " +
    "AQE and at width 7 with it, and leaves the conf as it found it") {
    val loops = budgets.map(b => b.loop -> (() => b.run(b.rounds))) ++
      onSmallGraph
    def under(width: Int, aqe: Boolean): Seq[Seq[String]] = {
      spark.conf.set(ShuffleKey, width.toString)
      spark.conf.set(AqeKey, aqe.toString)
      val set = spark.conf.getAll
      loops.map { case (loop, run) =>
        val rows = run().collect().map(_.toString).sorted.toSeq
        assert(spark.conf.getAll == set, loop)
        rows
      }
    }
    val entry = spark.conf.getAll
    val (narrow, wide) =
      try (under(1, aqe = false), under(7, aqe = true))
      finally Seq(ShuffleKey, AqeKey).foreach { k =>
        entry.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    assert(spark.conf.getAll == entry)
    loops.map(_._1).lazyZip(narrow).lazyZip(wide).foreach {
      (loop, a, b) => assert(a == b, loop)
    }
    // only the budget inputs of the two peels leave no rows
    assert(narrow.count(_.isEmpty) == 2)
  }

  test("no loop holds a shuffle width outside Iterates: withWidth( and " +
    "widthFor( appear only there, withWidthFor once elsewhere (dbscan)") {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, root.getAbsolutePath)
    val skeleton = new File(root, "functions/Iterates.scala").getCanonicalFile
    val hits = Files.walk(root.toPath).iterator().asScala
      .map(_.toFile).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getCanonicalFile == skeleton)
      .flatMap { f =>
        Files.readAllLines(f.toPath).asScala.zipWithIndex.map {
          case (line, i) => (s"${f.getName}:${i + 1}", line)
        }
      }.toList
    def where(name: String) = hits.collect {
      case (at, line) if line.contains(name) => at
    }
    assert(where("withWidth(").isEmpty, where("withWidth(").mkString("\n"))
    assert(where("widthFor(").isEmpty, where("widthFor(").mkString("\n"))
    val held = where("withWidthFor(")
    assert(held.size == 1 && held.head.startsWith("Clusters.scala:"),
      held.mkString("\n"))
  }

  test("library code reads no environment variables; only the mains do") {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, root.getAbsolutePath)
    val mains = Set("Bench.scala", "Verify.scala", "Time.scala", "ScaleProbe.scala")
      .map(new File(root, _).getCanonicalFile)
    val offenders = Files.walk(root.toPath).iterator().asScala
      .map(_.toFile).filter(_.getName.endsWith(".scala"))
      .filterNot(f => mains(f.getCanonicalFile))
      .flatMap { f =>
        Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sys.env") ||
            line.contains("System.getenv") => s"${f.getPath}:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

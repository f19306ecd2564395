package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.functions.{Clusters, Iterates, Spanning}

/** The loop skeleton (functions.Iterates): the shuffle-width hold
  * leaves the session conf as it found it, the width clamp, the
  * convergence budget every fixpoint loop shares, and the rule that
  * library code takes no settings from the environment. */
class IteratesSpec extends SparkSpecBase {
  import spark.implicits._

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  test("withWidth leaves the session conf as it found it: plain, nested " +
    "and a throwing body") {
    val entry = spark.conf.getAll
    assert(!entry.contains(AqeKey), "the test session leaves AQE unset")
    Iterates.withWidth(spark, 1) {
      assert(spark.conf.get(ShuffleKey) == "1")
      assert(spark.conf.get(AqeKey) == "false")
    }
    assert(spark.conf.getAll == entry)
    Iterates.withWidth(spark, 3) {
      Iterates.withWidth(spark, 1) {
        assert(spark.conf.get(ShuffleKey) == "1")
      }
    }
    assert(spark.conf.getAll == entry)
    intercept[ArithmeticException] {
      Iterates.withWidth(spark, 1)(throw new ArithmeticException("round"))
    }
    assert(spark.conf.getAll == entry)
    // a key the session HAD set comes back with its value
    spark.conf.set(AqeKey, "true")
    try {
      val set = spark.conf.getAll
      Iterates.withWidth(spark, 1)(())
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

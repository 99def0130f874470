package graft

import graft.operators.Hierarchy
import org.apache.spark.sql.functions._

/** Pointer-doubling hierarchy flatten: exact roots/depths on chains and
  * forests, log-round convergence, cycle and dangling-parent safety. */
class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def flat(nodes: Seq[(Long, Option[Long])],
                   maxIter: Int = 32,
                   onUnresolved: Long => Unit = _ => ()) =
    Hierarchy.flatten(
      nodes.toDF("id", "parent"), "id", "parent", maxIter, onUnresolved)
      .as[(Long, Long, Long)].collect().sortBy(_._1)

  test("deep chain resolves with exact depths (log rounds, not d rounds)") {
    // 0 <- 1 <- 2 <- ... <- 200: depth 200 forces 8 doubling rounds;
    // a per-level loop would need 200.
    val chain = (0L to 200L).map(k => (k, if (k == 0) None else Some(k - 1)))
    val got = flat(chain)
    assert(got.length === 201)
    assert(got.forall { case (id, root, depth) => root === 0L && depth === id })
  }

  test("forest with multiple roots keeps trees separate") {
    // two trees: 1<-{2,3}, 2<-4  and  10<-{11,12}
    val nodes = Seq(
      (1L, None), (2L, Some(1L)), (3L, Some(1L)), (4L, Some(2L)),
      (10L, None), (11L, Some(10L)), (12L, Some(10L)))
    val got = flat(nodes)
    assert(got.toSeq === Seq(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 2L),
      (10L, 10L, 0L), (11L, 10L, 1L), (12L, 10L, 1L)))
  }

  test("cycle rows are dropped and reported, acyclic part still resolves") {
    // 5 <-> 6 is a 2-cycle with a tail 7 -> 6; 1 <- 2 is healthy
    val nodes = Seq(
      (1L, None), (2L, Some(1L)),
      (5L, Some(6L)), (6L, Some(5L)), (7L, Some(6L)))
    var unresolved = 0L
    val got = flat(nodes, maxIter = 6, onUnresolved = unresolved = _)
    assert(got.toSeq === Seq((1L, 1L, 0L), (2L, 2L - 1L, 1L)))
    assert(unresolved === 3L)
  }

  test("dangling parent (edge to a missing node) is unresolved, not wrong") {
    val nodes = Seq((1L, None), (2L, Some(1L)), (3L, Some(99L)))
    var unresolved = 0L
    val got = flat(nodes, maxIter = 4, onUnresolved = unresolved = _)
    assert(got.toSeq === Seq((1L, 1L, 0L), (2L, 1L, 1L)))
    assert(unresolved === 1L)
  }

  test("empty input yields empty output without iterating") {
    val got = flat(Seq.empty)
    assert(got.isEmpty)
  }

  test("random forest matches an in-memory reference (property)") {
    val rnd = new scala.util.Random(42)
    val n = 500
    val parent: Map[Long, Option[Long]] =
      (0L until n.toLong).map { k =>
        k -> (if (k < 3) None else Some(rnd.nextInt(k.toInt).toLong))
      }.toMap
    def ref(k: Long): (Long, Long) = {
      var cur = k; var d = 0L
      while (parent(cur).isDefined) { cur = parent(cur).get; d += 1 }
      (cur, d)
    }
    val got = flat(parent.toSeq.map { case (k, p) => (k, p) })
    assert(got.length === n)
    got.foreach { case (id, root, depth) =>
      val (r, d) = ref(id)
      assert(root === r && depth === d, s"node $id")
    }
  }

  test("ancestor closure on a chain is exactly the triangular pair set") {
    // 0 <- 1 <- 2 <- 3: closure = all (descd, anc) with anc on descd's path
    val nodes = Seq((0L, None), (1L, Some(0L)), (2L, Some(1L)),
      (3L, Some(2L))).toDF("id", "parent")
    val got = Hierarchy.ancestorClosure(nodes, "id", "parent")
      .as[(Long, Long)].collect().toSet
    val want = (for { d <- 0L to 3L; a <- 0L to d } yield (d, a)).toSet
    assert(got === want)
  }

  test("ancestor closure on a forest keeps trees separate and self-pairs") {
    val nodes = Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)),
      (10L, None), (11L, Some(10L))).toDF("id", "parent")
    val got = Hierarchy.ancestorClosure(nodes, "id", "parent")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 2L), (2L, 1L), (3L, 3L), (3L, 2L),
      (3L, 1L), (10L, 10L), (11L, 11L), (11L, 10L)))
  }

  test("closure fails fast on a cycle instead of amplifying duplicates") {
    // on a cycle the 2^k pointer never empties and lifted distances wrap,
    // so every further round would re-add existing (descd, anc) pairs —
    // the guard must raise before any duplicate row is unioned
    val nodes = Seq((5L, Some(6L)), (6L, Some(5L))).toDF("id", "parent")
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    val e = intercept[IllegalArgumentException] {
      Hierarchy.ancestorClosure(nodes, "id", "parent", maxIter = 8).count()
    }
    assert(e.getMessage.contains("cycle"))
    // the failed closure strands none of its checkpoint blocks
    assert((pinned -- before).isEmpty, s"left ${pinned -- before} pinned")
  }

  test("closure emits each pair exactly once (no duplicate rows) on a " +
    "deep chain") {
    val chain = ((0L to 40L).map(k =>
      (k, if (k == 0) None else Some(k - 1)))).toDF("id", "parent")
    val rows = Hierarchy.ancestorClosure(chain, "id", "parent")
      .as[(Long, Long)].collect().toSeq
    assert(rows.length === rows.distinct.length, "duplicate closure pairs")
    assert(rows.length === (41 * 42) / 2)
  }

  test("q148 subtree rollup matches a brute-force reference") {
    // replay the md5 parent derivation in the JVM and fold subtree
    // sizes bottom-up over all 150 customers
    def mdParent(k: Long): Option[Long] =
      if (k <= 5) None
      else {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        Some(1L + java.lang.Long.parseLong(hex, 16) % (k - 1))
      }
    val cents = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("long"))
      .as[(Long, Long)].collect().toMap
    val ids = cents.keys.toSeq
    val sizeRef = scala.collection.mutable.Map[Long, Long]()
    val centsRef = scala.collection.mutable.Map[Long, Long]()
    ids.foreach { k =>
      var cur: Option[Long] = Some(k)
      while (cur.isDefined) {
        val c = cur.get
        sizeRef(c) = sizeRef.getOrElse(c, 0L) + 1L
        centsRef(c) = centsRef.getOrElse(c, 0L) + cents(k)
        cur = mdParent(c)
      }
    }
    val got = Hierarchy.q148_subtree_rollup(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(got.length === 150)
    got.foreach { case (id, n, c) =>
      assert(n === sizeRef(id), s"subtree size of $id")
      assert(c === centsRef(id), s"subtree cents of $id")
    }
  }

  test("q143 smoke: every customer resolves to a root key <= 5") {
    val got = Hierarchy.q143_hierarchy_flatten(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(got.length === 150)
    assert(got.forall(_._2 <= 5L))
    assert(got.count(_._3 === 0L) === 6) // keys 0..5 are roots
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level scale contract (VERDICT r9 #3): the handful of
  * deliberately-unrouted quadratic baselines — kept as oracle/law
  * anchors for their routed production forms — must be TAGGED, and
  * every tag must point at a declared Production sibling, so no scale
  * caller can reach a measured-quadratic plan by following the
  * registry. */
class RegistrySpec extends AnyFunSuite {

  test("every Baseline-tagged query has a declared Production sibling") {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    SparkEntry.registry.foreach { q =>
      q.scaleClass match {
        case Q.Baseline(sib) =>
          val s = byName.get(sib)
          assert(s.isDefined, s"${q.name}: routed sibling $sib is not declared")
          assert(s.get.scaleClass == Q.Production,
            s"${q.name}: sibling $sib must itself be Production, " +
              s"got ${s.get.scaleClass}")
          // both are exact, so one oracle checks both
          assert(q.oracle == s.get.oracle,
            s"${q.name}: oracle differs from its sibling $sib's")
        case Q.Production => ()
      }
    }
  }

  test("the four measured-quadratic baselines are tagged (and only those)") {
    val tagged = SparkEntry.registry.collect {
      case Q(name, _, _, Q.Baseline(sib)) => name -> sib
    }.toMap
    assert(tagged == Map(
      "q43b_jaccard_prefix" -> "q43c_jaccard_adaptive",
      "q216_simhash_neighbors" -> "q216c_simhash_neighbors_routed",
      "q50_embedding_neardup" -> "q50c_embedding_neardup_routed",
      "q222_mutual_nn" -> "q222b_mutual_nn_ivf"))
  }

  /** Placeholders that oracle templates `.replace` after stripMargin
    * (the NOTES splice convention); one left in an oracle is a missed
    * splice. */
  private val splicePlaceholders = Seq("CC_CLUSTER_CTES", "@PAIRS@", "PLANE_VALUES")

  test("oracle SQL has no unspliced placeholder and no margin-eaten `||`") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      splicePlaceholders.foreach(p =>
        assert(!sql.contains(p), s"$name: placeholder $p was never spliced"))
      // stripMargin eats the first `|` of a line-leading `||`
      sql.linesIterator.map(_.trim)
        .filter(l => l.startsWith("|") && !l.startsWith("||"))
        .foreach(l => fail(s"$name: line starts with a single `|`: $l"))
    }
  }

  test("registry names are unique and every oracle query has a fn") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
  }
}

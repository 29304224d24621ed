package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.Lifecycle.{Append, Compact, Reappend, Tombstone}

/** The lifecycle script's splits are the oracle's: over the corpus
  * relations the families build from, the ids the script hands each
  * step equal what `spark.sql` selects with the predicates the oracle
  * SQL spells out. A recording family stands in for a real one, so the
  * script is checked without writing an artifact. */
class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // the oracle SQL's predicates, verbatim over the id column
  private def deltaSql(id: String) = s"($id * 2654435761) % 100 < 30"
  private def deletedSql(id: String) = s"($id * 7919) % 100 < 10"
  private def staysDeadSql(id: String) = s"($id * 104729) % 100 >= 50"

  private def ids(df: DataFrame, id: String): Set[Long] =
    df.select(id).collect().map(_.getLong(0)).toSet

  /** The ids of `table` that the oracle predicate `pred` selects. */
  private def oracle(table: String, id: String, pred: String): Set[Long] =
    ids(spark.sql(s"SELECT $id FROM parquet.`$dir/$table.parquet` WHERE $pred"), id)

  /** Run the script over `family`'s corpus with a family that logs each
    * call as (step, ids handed to it), in call order. */
  private def recorded(family: IndexFamily, steps: Lifecycle.Step*): Seq[(String, Set[Long])] = {
    val log = Seq.newBuilder[(String, Set[Long])]
    def rec(step: String): (DataFrame, String) => Unit = (d, _) => log += step -> ids(d, family.id)
    val recorder = family.copy(build = rec("build"), append = rec("append"),
      tombstone = rec("tombstone"), compact = (_, _) => log += "compact" -> Set.empty[Long])
    Lifecycle.run(recorder, family.corpus(spark, dir), steps.toSet, "unused")
    log.result()
  }

  for ((family, table) <- Seq(IndexFamily.bm25 -> "documents", IndexFamily.lsh -> "embeddings")) {
    val id = family.id

    test(s"$table.$id: base, delta, deleted and re-appended ids are the oracle's") {
      val all = oracle(table, id, "true")
      val log = recorded(family, Compact, Reappend, Append, Tombstone)
      assert(log.map(_._1) == Seq("build", "append", "tombstone", "append", "compact"))
      val Seq(base, delta, deleted, reappended, _) = log.map(_._2)
      assert(delta == oracle(table, id, deltaSql(id)))
      assert(base == oracle(table, id, s"NOT (${deltaSql(id)})"))
      assert(base ++ delta == all && (base & delta).isEmpty)
      assert(deleted == oracle(table, id, deletedSql(id)))
      assert(reappended ==
        oracle(table, id, s"${deletedSql(id)} AND NOT (${staysDeadSql(id)})"))
      // the rules pick proper, non-empty subsets, so each step is exercised
      for (s <- Seq(delta, deleted, reappended)) assert(s.nonEmpty && s.size < all.size)
      assert(reappended.subsetOf(deleted) && reappended.size < deleted.size)
    }

    test(s"$table.$id: without Append the base is every id") {
      val log = recorded(family, Tombstone, Compact)
      assert(log.map(_._1) == Seq("build", "tombstone", "compact"))
      assert(log.head._2 == oracle(table, id, "true"))
      assert(log(1)._2 == oracle(table, id, deletedSql(id)))
    }
  }

  test("the memo key names the step subset in script order") {
    assert(Lifecycle.key(Set(Compact, Append)) == "append+compact")
    assert(Lifecycle.key(Lifecycle.Steps.toSet) == "append+tombstone+reappend+compact")
    assert(Lifecycle.key(Set(Tombstone)) == "tombstone")
  }
}

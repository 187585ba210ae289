package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

class WorkloadsSpec extends AnyFunSuite {
  private val lists = Workloads.names.map(w => w -> Workloads.queries(w).map(_.name))

  test("the workload lists partition Registry.all exactly") {
    val all = Registry.all.map(_.name)
    val listed = lists.flatMap(_._2)
    assert(listed.size == all.size, "a query sits in two workloads or in none")
    assert(listed.toSet == all.toSet)
    assert(listed.distinct.size == listed.size)
  }

  test("the workloads hold 69, 58 and 22 queries") {
    assert(lists.toMap.view.mapValues(_.size).toMap ==
      Map("olap" -> 69, "text_vectors" -> 58, "lsm_stream" -> 22))
  }

  test("every lsm_stream id names a registered query") {
    val ids = Registry.all.map(q => Workloads.idOf(q.name)).toSet
    assert(Workloads.lsmIds.diff(ids).isEmpty)
  }

  test("each probe set is a non-empty subset of its workload") {
    Workloads.names.foreach { w =>
      val p = Workloads.probe(w).map(_.name)
      assert(p.nonEmpty, w)
      assert(p.toSet.subsetOf(Workloads.queries(w).map(_.name).toSet), w)
    }
  }
}

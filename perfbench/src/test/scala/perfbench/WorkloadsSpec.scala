package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private def ops(w: String, seed: Long, client: Int = 0, n: Int = 500): Seq[Op] = {
    val s = new Workloads.Stream(w, seed, client, 4, 1)
    Seq.fill(n)(s.next())
  }

  test("a seed reproduces the same operation sequence") {
    for (w <- Workloads.names) {
      assert(ops(w, 42) == ops(w, 42), w)
      assert(ops(w, 42) != ops(w, 43), w)
      assert(ops(w, 42, client = 0) != ops(w, 42, client = 1), w)
    }
  }

  test("oltp_mixed deals its designed mix in every 40 operations") {
    val all = ops("oltp_mixed", 7, n = 400)
    all.grouped(40).foreach { block =>
      val byCls = block.groupBy(_.cls).map { case (c, xs) => c -> xs.size }
      assert(byCls == Map("read" -> 24, "write" -> 10, "txn" -> 4, "metrics" -> 1,
        "branch" -> 1))
    }
    all.grouped(10).foreach(block => assert(block.count(_.cls == "read") == 6))
  }

  test("oltp_mixed writes unique ids and reads back only its own") {
    val all = ops("oltp_mixed", 11, n = 2000)
    val written = all.flatMap {
      case Op.Insert(id, _, _) => Seq(id)
      case Op.Txn(_, rows) => rows.map(_.id)
      case _ => Nil
    }
    assert(written.distinct.size == written.size)
    val ownReads = all.collect { case Op.KvGet(_, id, true) => id }
    assert(ownReads.nonEmpty && ownReads.forall(written.contains))
  }

  test("analytic_mix streams every 10th operation and cycles its templates") {
    val all = ops("analytic_mix", 5, n = 400)
    all.zipWithIndex.foreach { case (op, i) =>
      assert(op.isInstanceOf[Op.Stream] == ((i + 1) % Workloads.StreamEvery == 0))
    }
    val analytic = all.collect { case a: Op.Analytic => a }
    analytic.grouped(4).foreach(g => assert(g.map(_.template).toSet == Workloads.templates.toSet))
    assert(analytic.map(_.sql).distinct.size > 256, "statement texts must overflow the plan cache")
  }
}

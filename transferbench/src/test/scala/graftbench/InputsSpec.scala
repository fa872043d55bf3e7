package graftbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def spool(seed: Long, keys: Inputs.Keys): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("graftbench-spool")
    try (0 until 3).map { b =>
      Files.readAllBytes(Inputs.writeSpool(dir, b,
        Inputs.changeBatch(seed, 500, b, 200, keys)))
    } finally Workload.deleteTree(dir)
  }

  test("the same seed gives byte-identical spool files; another seed differs") {
    for (keys <- Seq(Inputs.Spread, Inputs.Hot(8))) {
      val a = spool(7, keys)
      val b = spool(7, keys)
      val c = spool(8, keys)
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }, keys)
      assert(a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) }, keys)
    }
  }

  test("the same seed gives the same document arrival order and corpus; " +
    "another seed differs") {
    assert(Inputs.arrivalOrder(7, 800) == Inputs.arrivalOrder(7, 800))
    assert(Inputs.arrivalOrder(7, 800) != Inputs.arrivalOrder(8, 800))
    assert(Inputs.arrivalOrder(7, 800).sorted == (0L until 800L))
    assert(Inputs.documents(7, 300) == Inputs.documents(7, 300))
    assert(Inputs.documents(7, 300) != Inputs.documents(8, 300))
  }

  test("change logs have the documented shape") {
    val spread = (0 until 4).flatMap(b => Inputs.changeBatch(3, 1000, b, 500, Inputs.Spread))
    assert(spread.map(_.lsn).distinct.length == spread.length)
    assert(spread.map(_.lsn) == spread.map(_.lsn).sorted)
    val inserts = spread.filter(_.op == 'c')
    assert(inserts.forall(_.row.orderkey >= 1000))
    assert(inserts.map(_.row.orderkey).distinct.length == inserts.length)
    assert(spread.filter(_.op != 'c').forall(_.row.orderkey < 1000))
    val hot = Inputs.changeBatch(3, 1000, 0, 500, Inputs.Hot(8))
    assert(hot.map(_.row.orderkey).toSet == Inputs.hotKeys(3, 1000, 8).toSet)
  }
}

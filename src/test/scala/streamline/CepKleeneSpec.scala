package streamline

import graft.SparkSuite
import streamline.batch.Cep
import streamline.batch.Cep.{CepEv, CepMatch}

/** Boundary semantics of the Kleene-plus NFA (SURVEY.md §2.15):
  * run growth, reset on foreign events, the within bound measured from
  * the FIRST element, and greedy non-overlap after a match. */
class CepKleeneSpec extends SparkSuite {

  val sparkI = graft.SparkTestBase.spark
  import sparkI.implicits._

  private val MIN = 60L * 1000 * 1000 // one minute in µs
  private def ev(u: Long, id: Long, t: String, m: Long) =
    CepEv(u, id, t, m * MIN)

  private def run(evs: Seq[CepEv]): Seq[CepMatch] =
    Cep.matches(evs.toDS(), Cep.Kleene(10 * MIN))
      .collect().toSeq.sortBy(m => (m.user_id, m.purchase_id))

  test("a run of clicks then a purchase matches with the full run length") {
    val m = run(Seq(ev(1, 1, "click", 0), ev(1, 2, "click", 1),
      ev(1, 3, "click", 2), ev(1, 4, "purchase", 3)))
    assert(m == Seq(CepMatch(1, 3, 1, 4, 0, 3 * MIN)))
  }

  test("a foreign event breaks the run (relaxed length, strict contiguity)") {
    val m = run(Seq(ev(1, 1, "click", 0), ev(1, 2, "view", 1),
      ev(1, 3, "click", 2), ev(1, 4, "purchase", 3)))
    // only the second click belongs to the matched run
    assert(m == Seq(CepMatch(1, 1, 3, 4, 2 * MIN, 3 * MIN)))
  }

  test("within is measured from the first click of the run, inclusive") {
    // first click at 0, purchase at exactly 10 min → match
    val hit = run(Seq(ev(1, 1, "click", 0), ev(1, 2, "click", 9),
      ev(1, 3, "purchase", 10)))
    assert(hit.map(_.purchase_id) == Seq(3))
    // purchase at 11 min: the LAST click is 2 min before, but the run
    // started 11 min before → no match
    val miss = run(Seq(ev(2, 1, "click", 0), ev(2, 2, "click", 9),
      ev(2, 3, "purchase", 11)))
    assert(miss.isEmpty)
  }

  test("matches do not overlap: a second purchase needs a fresh run") {
    val m = run(Seq(ev(1, 1, "click", 0), ev(1, 2, "purchase", 1),
      ev(1, 3, "purchase", 2)))
    assert(m == Seq(CepMatch(1, 1, 1, 2, 0, 1 * MIN)))
  }

  test("runs never leak across users") {
    val m = run(Seq(ev(1, 1, "click", 0), ev(2, 2, "purchase", 1)))
    assert(m.isEmpty)
  }
}

class CepRelaxedSpec extends graft.SparkSuite {
  import streamline.batch.Cep
  import Cep.{CepAbs, CepEv, CepRel}
  val sparkI = graft.SparkTestBase.spark
  import sparkI.implicits._

  private val MIN = 60L * 1000 * 1000
  private def ev(u: Long, id: Long, t: String, tsMin: Long) =
    CepEv(u, id, t, tsMin * MIN)

  private def rel(evs: Seq[CepEv]): Seq[CepRel] =
    Cep.matches(evs.toDS(), Cep.FollowedBy(10 * MIN))
      .collect().toSeq.sortBy(m => (m.user_id, m.click_id))

  private def abs(evs: Seq[CepEv]): Seq[CepAbs] =
    Cep.matches(evs.toDS(), Cep.Absence(10 * MIN))
      .collect().toSeq.sortBy(m => (m.user_id, m.click_id))

  test("followedBy skips irrelevant events between click and purchase") {
    // view events between the stages break the STRICT kleene run but
    // not the relaxed pattern
    val m = rel(Seq(ev(1, 1, "click", 0), ev(1, 2, "view", 1),
      ev(1, 3, "view", 2), ev(1, 4, "purchase", 3)))
    assert(m == Seq(CepRel(1, 1, 4, 0, 3 * MIN)))
  }

  test("one purchase resolves every click armed before it") {
    val m = rel(Seq(ev(1, 1, "click", 0), ev(1, 2, "click", 2),
      ev(1, 3, "purchase", 4), ev(1, 4, "purchase", 5)))
    // both clicks match the FIRST purchase; the second finds none armed
    assert(m == Seq(CepRel(1, 1, 3, 0, 4 * MIN),
      CepRel(1, 2, 3, 2 * MIN, 4 * MIN)))
  }

  test("followedBy window is inclusive at exactly +10min and closed after") {
    val hit = rel(Seq(ev(1, 1, "click", 0), ev(1, 2, "purchase", 10)))
    assert(hit.map(_.purchase_id) == Seq(2))
    val miss = rel(Seq(ev(2, 1, "click", 0), ev(2, 2, "purchase", 11)))
    assert(miss.isEmpty)
    // an expired click does not steal the purchase from a fresh click
    val fresh = rel(Seq(ev(3, 1, "click", 0), ev(3, 2, "click", 5),
      ev(3, 3, "purchase", 12)))
    assert(fresh == Seq(CepRel(3, 2, 3, 5 * MIN, 12 * MIN)))
  }

  test("absence: in-window purchase kills the click, late one does not") {
    val killed = abs(Seq(ev(1, 1, "click", 0), ev(1, 2, "purchase", 10)))
    assert(killed.isEmpty)
    val late = abs(Seq(ev(2, 1, "click", 0), ev(2, 2, "purchase", 11)))
    assert(late == Seq(CepAbs(2, 1, 0)))
  }

  test("absence: end-of-input and user boundaries flush survivors") {
    // no further events at all for user 1: batch input is complete, so
    // the absence is decided and the click emits
    val m = abs(Seq(ev(1, 1, "click", 0), ev(2, 2, "purchase", 1),
      ev(2, 3, "click", 2)))
    assert(m == Seq(CepAbs(1, 1, 0), CepAbs(2, 3, 2 * MIN)))
  }

  test("absence emission order follows the per-user scan") {
    val m = abs(Seq(ev(1, 1, "click", 0), ev(1, 2, "click", 1),
      ev(1, 3, "view", 20)))
    assert(m == Seq(CepAbs(1, 1, 0), CepAbs(1, 2, 1 * MIN)))
  }
}

package streamline

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import streamline.batch.Cep
import streamline.batch.Cep.{CepEv, Pattern}
import streamline.stream.CepStream
import streamline.stream.CepStream.CepState

/** Randomized incremental ≡ batch equivalence for EVERY streaming CEP
  * operator: random event sequences, random monotone watermark
  * schedules, and random per-event delivery batches (any batch whose
  * watermark the event's time still exceeds — the same admission rule
  * Spark's late-row filter enforces). The streamed output must equal
  * the batch scan restricted to completions the final watermark
  * sealed. This is the harness the single-scenario specs can't
  * substitute for: it exercises buffer carry, partial sealing, armed
  * state across arbitrary batch boundaries, and out-of-order arrival
  * in one property. */
class CepStreamEquivalenceSpec extends SparkSuite {

  private val MIN_US = 60L * 1000 * 1000
  private val MIN_MS = 60L * 1000

  // Single-key sequences: the operators are per-key, so per-key
  // equivalence is the whole property. ts ≥ 1 min keeps every event
  // above the first watermark step.
  private def evsGen: Gen[List[CepEv]] = for {
    n <- Gen.choose(20, 60)
    evs <- Gen.listOfN(n, for {
      t <- Gen.oneOf("click", "purchase", "view")
      ts <- Gen.choose(1L, 25L).map(_ * MIN_US)
    } yield (t, ts))
  } yield evs.zipWithIndex.map { case ((t, ts), i) =>
    CepEv(1L, i.toLong + 1, t, ts)
  }

  /** Drive an updater across batches of (watermarkMs, arrivals). */
  private def runIncremental[S, O](
      update: (Long, Iterator[CepEv], TestGroupState[S]) => Iterator[O],
      batches: List[(Long, List[CepEv])]): List[O] = {
    var st: Option[S] = None
    val out = scala.collection.mutable.ListBuffer[O]()
    batches.foreach { case (wmMs, evs) =>
      val gs = TestGroupState.create[S](
        optionalState = st match {
          case Some(s) => org.apache.spark.api.java.Optional.of(s)
          case None => org.apache.spark.api.java.Optional.empty[S]()
        },
        timeoutConf = GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
        hasTimedOut = false)
      out ++= update(1L, evs.iterator, gs)
      st = if (gs.isRemoved) None else gs.getOption
    }
    out.toList
  }

  /** Random monotone watermark schedule ending at wmMaxMin, with each
    * event assigned a random delivery batch it is still on-time for
    * (event ts strictly above that batch's watermark). */
  private def schedule(evs: List[CepEv], seed: Long,
                       wmMaxMin: Long): List[(Long, List[CepEv])] = {
    val rnd = new scala.util.Random(seed)
    val steps = (List.fill(3)(rnd.nextInt(26).toLong)
        .filter(_ < wmMaxMin) :+ wmMaxMin)
      .map(_ * MIN_MS).distinct.sorted
    val assigned = evs.map { e =>
      val ok = steps.indices.filter(i => steps(i) * 1000L < e.ts_us)
      val b = if (ok.isEmpty) 0 else ok(rnd.nextInt(ok.size))
      b -> e
    }
    steps.indices.toList.map(i =>
      steps(i) -> assigned.collect { case (b, e) if b == i => e })
  }

  /** One streamed pattern against its batch scan: `sealedBy(o, wmUs)`
    * says whether the final watermark `wmUs` decided the match `o`. */
  private case class Twin[S, O <: Product : TypeTag](label: String,
      p: Pattern[S, O], sealedBy: (O, Long) => Boolean) {
    def check(evs: List[CepEv], sched: List[(Long, List[CepEv])],
              finalWmUs: Long, ctx: String): Unit = {
      val sp = spark; import sp.implicits._
      val got =
        runIncremental[CepState[S], O](CepStream.update(p), sched).toSet
      val exp = Cep.matches(evs.toDS(), p).collect()
        .filter(sealedBy(_, finalWmUs)).toSet
      assert(got == exp, s"$label $ctx")
    }
  }

  // A match is decided when its purchase seals; absence, once the
  // watermark (or a sealed later event) proves the window closed without
  // a purchase — strict bound.
  private val twins = Seq[Twin[_, _]](
    Twin("kleene", Cep.kleene,
      (m: Cep.CepMatch, wm: Long) => m.purchase_ts_us <= wm),
    Twin("followedBy", Cep.followedBy,
      (m: Cep.CepRel, wm: Long) => m.purchase_ts_us <= wm),
    Twin("followedByAny", Cep.followedByAny,
      (m: Cep.CepRel, wm: Long) => m.purchase_ts_us <= wm),
    Twin("times", Cep.times,
      (m: Cep.CepTimes, wm: Long) => m.purchase_ts_us <= wm),
    Twin("optional", Cep.optional,
      (m: Cep.CepOpt, wm: Long) => m.purchase_ts_us <= wm),
    Twin("absence", Cep.absence,
      (m: Cep.CepAbs, wm: Long) => m.click_ts_us + Cep.absence.withinUs < wm),
    Twin("greedy", Cep.greedy,
      (m: Cep.CepRun, wm: Long) => m.purchase_ts_us <= wm),
    Twin("noskip", Cep.noSkip,
      (m: Cep.CepRun, wm: Long) => m.purchase_ts_us <= wm),
    Twin("skip_to_next", Cep.skipToNext,
      (m: Cep.CepRun, wm: Long) => m.purchase_ts_us <= wm),
    Twin("skip_past", Cep.skipPast,
      (m: Cep.CepRun, wm: Long) => m.purchase_ts_us <= wm),
    Twin("until", Cep.until,
      (m: Cep.CepRun, wm: Long) => m.purchase_ts_us <= wm))

  private def checkAll(seed: Long, wmMaxMin: Long): Unit = {
    val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
    val sched = schedule(evs, seed * 31 + wmMaxMin, wmMaxMin)
    twins.foreach(_.check(evs, sched, wmMaxMin * MIN_US,
      s"seed=$seed wmMax=$wmMaxMin"))
  }

  test("streamed CEP equals sealed-restricted batch when everything seals") {
    (1L to 6L).foreach(checkAll(_, wmMaxMin = 26 * 60 + 10))
  }

  test("streamed CEP equals sealed-restricted batch under PARTIAL sealing") {
    (1L to 6L).foreach(checkAll(_, wmMaxMin = 20L))
  }
}

package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every input the program sees derives from
  * the workload seed alone; the anomaly labels, due times and planted
  * near-duplicate clusters stay on the benchmark side. */
object Gen {

  val EventTypes: Array[String] = Array("signup", "click", "error", "view", "purchase")
  /** 2024-01-01T00:00:00Z, the start of the history calendar. */
  val T0Micros: Long = 1704067200L * 1000000L
  val HourMicros: Long = 3600L * 1000000L
  val HistoryDays: Int = 30
  val AnomalyRate: Double = 0.025

  final case class Event(id: Long, tsMicros: Long, user: Long, eventType: String,
                         value: Double, k: Int) {
    def props: String = s"""{"k": $k}"""
    def json: String = {
      val ts = java.time.Instant.EPOCH.plusNanos(tsMicros * 1000L).toString
      s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$eventType","value":$value,"props":"{\\"k\\": $k}"}"""
    }
  }

  /** A generated event plus its benchmark-side label. */
  final case class Labelled(ev: Event, anomalous: Boolean)

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream)

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Per-user mean spend, log-normal around 20. */
  def userMeans(seed: Long, nUsers: Int): Array[Double] = {
    val r = rng(seed, 1)
    Array.fill(nUsers)(math.exp(3.0 + 0.5 * gauss(r)))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; deterministic given the generator state
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** One event for `user` at `ts`. Anomalies are 2.5% of events: two
    * fifths are blatant (above the big-amount floor the rules already
    * catch), three fifths are subtle (3.5-6x the user's usual spend but
    * below every rule threshold), so ranking them is the models' job. */
  private def event(r: SplittableRandom, means: Array[Double], id: Long, ts: Long,
                    anomalyRate: Double): Labelled = {
    val user = r.nextInt(means.length)
    val et = EventTypes(r.nextInt(EventTypes.length))
    val k0 = r.nextInt(100)
    val m = means(user)
    if (r.nextDouble() < anomalyRate) {
      if (r.nextInt(5) < 2)
        Labelled(Event(id, ts, user, et, cents(260.0 + 300.0 * r.nextDouble()), k0), true)
      else {
        val v = math.min(95.0, m * (3.5 + 2.5 * r.nextDouble()))
        Labelled(Event(id, ts, user, et, cents(v), k0 % 81), true)
      }
    } else {
      val v = math.min(99.0, m * math.exp(0.35 * gauss(r)))
      Labelled(Event(id, ts, user, et, cents(v), k0), false)
    }
  }

  /** `n` history events over the 30-day calendar, in time order with
    * ids in that order. */
  def history(seed: Long, n: Int, nUsers: Int): IndexedSeq[Labelled] = {
    val means = userMeans(seed, nUsers)
    val r = rng(seed, 2)
    val span = HistoryDays * 24 * HourMicros
    val ts = Array.fill(n)(T0Micros + (r.nextDouble() * span).toLong).sorted
    ts.indices.map(i => event(r, means, i.toLong, ts(i), AnomalyRate))
  }

  // ---- stream schedule -------------------------------------------------

  final case class Phase(name: String, ratePerS: Int, durationMs: Long)

  /** One send: an event due `dueMs` after the stream's start. `resend`
    * marks a repeat of an id sent earlier. */
  final case class Send(dueMs: Long, phase: Int, item: Labelled, resend: Boolean)

  /** The sends of one tick: one JSON file, due at `dueMs`. */
  final case class Tick(dueMs: Long, phase: Int, sends: IndexedSeq[Send])

  final case class StreamPlan(warmup: IndexedSeq[Labelled], ticks: IndexedSeq[Tick],
                              backlog: IndexedSeq[Labelled]) {
    def firstSends: IndexedSeq[Send] = ticks.flatMap(_.sends).filterNot(_.resend)
    def resends: Int = ticks.map(_.sends.count(_.resend)).sum
    def unique: IndexedSeq[Labelled] = warmup ++ firstSends.map(_.item) ++ backlog
  }

  /** Open-loop schedule. `warmup` events precede the clock; each
    * fixed-rate phase then emits one file per `tickMs`, and the drain
    * backlog follows. Event time runs `eventSpeed` times faster than the
    * wall clock from day 5 of the history calendar, so the one-day
    * watermark evicts dedup state during a run while the features stay
    * inside the fitted calendar. About 3% of events are re-sent 0.3-2 s
    * later with the same id and content; 2% arrive up to 6 event-hours
    * out of order, inside the watermark. */
  def schedule(seed: Long, nUsers: Int, warmup: Int, phases: Seq[Phase], tickMs: Long,
               backlog: Int, eventSpeed: Long): StreamPlan = {
    val means = userMeans(seed, nUsers)
    val r = rng(seed, 3)
    val start = T0Micros + 5 * 24 * HourMicros
    var nextId = 1000000000L
    def next(dueMs: Long): Labelled = {
      val front = start + dueMs * 1000L * eventSpeed
      val ts =
        if (r.nextDouble() < 0.02) front - (r.nextDouble() * 6 * HourMicros).toLong
        else front - (r.nextDouble() * tickMs * 1000L * eventSpeed).toLong
      val item = event(r, means, nextId, ts, AnomalyRate)
      nextId += 1
      item
    }
    val warm = (0 until warmup).map(_ => next(0L))
    val byTick = scala.collection.mutable.TreeMap.empty[Long, (Int, Vector[Send])]
    def add(s: Send): Unit = {
      val (p, v) = byTick.getOrElse(s.dueMs, (s.phase, Vector.empty[Send]))
      byTick(s.dueMs) = (p, v :+ s)
    }
    var phaseStart = 0L
    phases.zipWithIndex.foreach { case (ph, pi) =>
      val nTicks = (ph.durationMs / tickMs).toInt
      val perTick = (ph.ratePerS.toLong * tickMs / 1000L).toInt
      val lastTick = phaseStart + (nTicks - 1) * tickMs
      (0 until nTicks).foreach { t =>
        val due = phaseStart + t * tickMs
        (0 until perTick).foreach { _ =>
          val item = next(due)
          add(Send(due, pi, item, resend = false))
          if (r.nextDouble() < 0.03) {
            val later = due + ((300 + r.nextInt(1700) + tickMs - 1) / tickMs) * tickMs
            add(Send(math.min(later, lastTick), pi, item, resend = true))
          }
        }
      }
      phaseStart += ph.durationMs
    }
    val ticks = byTick.toIndexedSeq.map { case (t, (p, ss)) => Tick(t, p, ss) }
    val back = (0 until backlog).map(_ => next(phaseStart))
    StreamPlan(warm, ticks, back)
  }

  // ---- corpus -----------------------------------------------------------

  val Vocab: Array[String] = ("batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window row table stream merge " +
    "data vector join customer the a lang source index shard graph node edge commit " +
    "state log snapshot").split(" ")

  final case class Doc(id: Long, text: String, embedding: Array[Float])

  /** `docs` in arrival order, plus the planted near-duplicate clusters
    * (each a base document and its edited copies). */
  final case class Corpus(docs: IndexedSeq[Doc], clusters: IndexedSeq[Seq[Long]])

  /** `n` documents: 65% independent texts, 35% edited copies (3-10% of
    * words replaced) of an earlier base, with a nearby embedding. Ids
    * are a seeded permutation, so a copy may carry a smaller id than
    * its base and dethrone it on arrival. */
  def corpus(seed: Long, n: Int, dim: Int): Corpus = {
    val r = rng(seed, 4)
    val ids = shuffled(r, (0L until n.toLong).toArray)
    val words = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val embs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val clusterOf = scala.collection.mutable.LinkedHashMap.empty[Int, List[Int]]
    (0 until n).foreach { i =>
      if (i >= 20 && r.nextDouble() < 0.35) {
        val base = {
          var b = r.nextInt(i)
          while (clusterOf.values.exists(m => m.tail.contains(b))) b = r.nextInt(i)
          b
        }
        val w = words(base).clone()
        val edits = math.max(1, (w.length * (0.03 + 0.07 * r.nextDouble())).toInt)
        (0 until edits).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
        words += w
        embs += embs(base).map(x => x + 0.01f * gauss(r).toFloat)
        clusterOf(base) = clusterOf.getOrElse(base, List(base)) :+ i
      } else {
        words += Array.fill(15 + r.nextInt(56))(Vocab(r.nextInt(Vocab.length)))
        val e = Array.fill(dim)(gauss(r).toFloat)
        val norm = math.sqrt(e.map(x => x.toDouble * x).sum).toFloat
        embs += e.map(_ / norm)
      }
    }
    val docs0 = (0 until n).map(i => Doc(ids(i), words(i).mkString(" "), embs(i)))
    val order = shuffled(r, (0 until n).toArray)
    Corpus(order.map(docs0).toIndexedSeq,
           clusterOf.values.map(_.map(i => ids(i)).toSeq).toIndexedSeq)
  }

  private def shuffled[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    val out = a.clone()
    var i = out.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }
}

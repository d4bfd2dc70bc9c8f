package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("funnel: order matters, equal timestamps do not advance, greedy " +
      "matching equals the sequential min-chain") {
    val e = Seq(
      // u1 completes A->B->C
      (1L, 10L, "A"), (1L, 20L, "B"), (1L, 30L, "C"),
      // u2 has all three but B precedes A: depth stops after B-less chain A(15) -> C(40)? no B after 15
      (2L, 12L, "B"), (2L, 15L, "A"), (2L, 40L, "C"),
      // u3: B at the SAME ts as A must not advance; later B does
      (3L, 10L, "A"), (3L, 10L, "B"), (3L, 50L, "B"),
      // u4: only noise types
      (4L, 10L, "X")).toDF("user_id", "ts", "et")
    val out = EventAnalytics.funnel(e, col("user_id"), col("ts"), col("et"),
        Seq("A", "B", "C"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    // step A: u1, u2, u3 -> 3; step B: u1 (B@20), u3 (B@50) -> 2
    // (u2's only B is before its A); step C: u1 only
    assert(out === Seq((1, "A", 3L), (2, "B", 2L), (3, "C", 1L)))
    // a corpus with NO step-typed events still reports every step at 0
    val none = EventAnalytics.funnel(e.filter(col("et") === "Z"),
        col("user_id"), col("ts"), col("et"), Seq("A", "B"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(none === Seq((1, "A", 0L), (2, "B", 0L)))
  }

  test("funnel maxEventsPerUser: slices each user to their EARLIEST cap " +
      "step events — under-cap users unchanged, conversions inside the " +
      "slice kept, conversions first completed after it dropped") {
    // u1 (skewed): 10k A-spam events then the B at the very end — the
    // conversion only exists past the cap, so cap=100 must not count it
    val u1 = (0 until 10000).map(i => (1L, 100L + i, "A")) :+ ((1L, 99999L, "B"))
    // u2 converts inside the first 3 events; u3 is under the cap entirely
    val u2 = Seq((2L, 10L, "A"), (2L, 20L, "B"), (2L, 30L, "A"))
    val u3 = Seq((3L, 10L, "A"), (3L, 20L, "B"))
    val e = (u1 ++ u2 ++ u3).toDF("user_id", "ts", "et")
    def run(cap: Int) =
      EventAnalytics.funnel(e, col("user_id"), col("ts"), col("et"),
          Seq("A", "B"), maxEventsPerUser = cap)
        .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    // uncapped: all three users reach A, all three convert to B
    assert(run(0) === Seq((1, "A", 3L), (2, "B", 3L)))
    // cap=100: u1's B is outside its earliest-100 slice -> only u2, u3 at B
    assert(run(100) === Seq((1, "A", 3L), (2, "B", 2L)))
    // a cap at/above every user's event count is a no-op
    assert(run(20000) === run(0))
  }

  test("sessionTranscripts: gap sessionization, (ts, role, content) turn " +
      "order, NULL content reads as '', and the turn cap keeps the " +
      "earliest turns") {
    val gap = 1800L * 1000000000L
    val e = Seq(
      // u1 session 1: three turns incl. an equal-ts pair (role breaks the
      // tie) and a null payload; session 2 starts past the gap
      (1L, 100L, "user", "hi"),
      (1L, 200L, "assistant", null: String),
      (1L, 200L, "user", "again"),
      (1L, 200L + gap + 1L, "user", "new session"),
      // u2: single-turn session
      (2L, 50L, "system", "boot"),
      // u3: a NULL role must still keep its line (n_turns == lines)
      (3L, 10L, null: String, "orphan")
    ).toDF("user_id", "ts", "et", "content")
    def run(cap: Int) = EventAnalytics.sessionTranscripts(e,
        col("user_id"), col("ts"), col("et"), col("content"),
        maxTurnsPerSession = cap)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("n_turns"), col("duration_ns"), col("transcript"))
      .as[(Long, Long, Long, Long, Long, String)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    assert(run(0) === Seq(
      (1L, 1L, 100L, 3L, 100L,
        "user: hi\nassistant: \nuser: again"),
      (1L, 2L, 200L + gap + 1L, 1L, 0L, "user: new session"),
      (2L, 1L, 50L, 1L, 0L, "system: boot"),
      (3L, 1L, 10L, 1L, 0L, ": orphan")))
    // cap=2: u1 session 1 keeps its EARLIEST two turns
    assert(run(2).head ===
      (1L, 1L, 100L, 2L, 100L, "user: hi\nassistant: "))
    // partitioning-independent (the full tie-break does the work)
    val a = run(0)
    val b = EventAnalytics.sessionTranscripts(e.repartition(7),
        col("user_id"), col("ts"), col("et"), col("content"))
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("n_turns"), col("duration_ns"), col("transcript"))
      .as[(Long, Long, Long, Long, Long, String)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    assert(a === b)
  }

  test("nextEventExamples: context never crosses the session boundary, " +
      "history capped at historyLen oldest-first, first-in-session " +
      "events emit nothing") {
    val gap = 1800L * 1000000000L
    val e = Seq(
      // u1 session 1: A B C D E — contexts window up to 3
      (1L, 100L, "A", 1L), (1L, 200L, "B", 2L), (1L, 300L, "C", 3L),
      (1L, 400L, "D", 4L), (1L, 500L, "E", 5L),
      // u1 session 2 (past the gap): F G — F emits nothing
      (1L, 500L + gap + 1L, "F", 6L), (1L, 600L + gap + 1L, "G", 7L),
      // u2: single event, no examples
      (2L, 50L, "Z", 8L)
    ).toDF("user_id", "ts", "et", "event_id")
    val out = EventAnalytics.nextEventExamples(e, col("user_id"),
        col("ts"), col("et"), col("event_id"))
      .select(col("user_id"), col("tie"), col("next_et"), col("ctx"),
        col("ctx_len"))
      .as[(Long, Long, String, String, Int)].collect().sortBy(_._2).toSeq
    assert(out === Seq(
      (1L, 2L, "B", "A", 1),
      (1L, 3L, "C", "A>B", 2),
      (1L, 4L, "D", "A>B>C", 3),
      (1L, 5L, "E", "B>C>D", 3),   // capped at 3, oldest dropped
      (1L, 7L, "G", "F", 1)))      // context reset at the session break
  }

  test("conversionByVariant + abTestZ: per-user dedup, hand-checked " +
      "rates, lift, and pooled z") {
    // variant A: 3 users, 2 convert (u1 twice — must count once);
    // variant B: 2 users, 1 converts
    val e = Seq(
      (1L, "A", true), (1L, "A", true), (2L, "A", false), (3L, "A", true),
      (10L, "B", true), (11L, "B", false), (11L, "B", false))
      .toDF("user_id", "variant", "conv")
    val by = EventAnalytics.conversionByVariant(e, col("user_id"),
        col("variant"), col("conv"))
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(by === Seq(("A", 3L, 2L, 2.0 / 3.0), ("B", 2L, 1L, 0.5)))
    val z = EventAnalytics.abTestZ(e, col("user_id"), col("variant"),
        col("conv"), a = "A", b = "B")
      .as[(Long, Long, Double, Long, Long, Double, Double, Double)]
      .collect().head
    val (pa, pb) = (2.0 / 3.0, 0.5)
    val pooled = 3.0 / 5.0
    val se = math.sqrt(pooled * (1.0 - pooled) * (1.0 / 3.0 + 1.0 / 2.0))
    assert(z === ((3L, 2L, pa, 2L, 1L, pb, pa - pb, (pa - pb) / se)))
  }

  test("retentionCohorts: cohort is the first-active day, offsets count " +
      "distinct active days, and the day math is exact at nanosecond scale") {
    val day = 86400000000000L
    val base = 1700000000L * 1000000000L // realistic epoch-nanos magnitude
    val d0 = (base / day) * day // align to a day boundary
    val e = Seq(
      (1L, d0 + 1L), (1L, d0 + 2L),           // day 0 twice -> one row
      (1L, d0 + day + 5L),                     // day 1
      (2L, d0 + day),                          // cohort day 1
      (2L, d0 + 3 * day + 1L),                 // offset 2
      (2L, d0 + 20 * day)                      // offset 19 > 7: dropped
    ).toDF("user_id", "ts")
    val out = EventAnalytics.retentionCohorts(e, col("user_id"), col("ts"),
        maxOffset = 7)
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val c0 = d0 / day
    assert(out === Seq((c0, 0, 1L), (c0, 1, 1L), (c0 + 1, 0, 1L), (c0 + 1, 2, 1L)))
  }

  test("funnelLatency: latency measured from each user's step-1 match, " +
      "discrete percentiles, unreached steps emit no row") {
    val e = Seq(
      // u1: A@10 -> B@30 (lat 20); u2: A@100 -> B@150 (lat 50);
      // u3: A@5 only; u4: B-before-A never matches B
      (1L, 10L, "A"), (1L, 30L, "B"),
      (2L, 100L, "A"), (2L, 150L, "B"),
      (3L, 5L, "A"),
      (4L, 7L, "B"), (4L, 9L, "A")).toDF("user_id", "ts", "et")
    val out = EventAnalytics.funnelLatency(e, col("user_id"), col("ts"),
        col("et"), Seq("A", "B", "C"))
      .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // step A: 4 users, all latencies 0; step B: u1 (20), u2 (50) --
    // quantile_disc(0.5) of [20, 50] is the lower value, p90 the upper;
    // step C reached by nobody -> absent
    assert(out === Seq(
      (1, "A", 4L, 0L, 0L),
      (2, "B", 2L, 20L, 50L)))
  }

  test("funnelLatency maxEventsPerUser: the earliest-cap slice feeds the " +
      "chain — a conversion completed only past the cap emits no latency") {
    // u1 (skewed): 10k A-spam then the B at the end — past cap=100;
    // u2 converts inside its first 3 events (lat 10)
    val u1 = (0 until 10000).map(i => (1L, 100L + i, "A")) :+
      ((1L, 99999L, "B"))
    val u2 = Seq((2L, 10L, "A"), (2L, 20L, "B"), (2L, 30L, "A"))
    val e = (u1 ++ u2).toDF("user_id", "ts", "et")
    def run(cap: Int) =
      EventAnalytics.funnelLatency(e, col("user_id"), col("ts"), col("et"),
          Seq("A", "B"), maxEventsPerUser = cap)
        .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // uncapped: both users convert (u1 lat 99899, u2 lat 10)
    assert(run(0) === Seq(
      (1, "A", 2L, 0L, 0L), (2, "B", 2L, 10L, 99899L)))
    // cap=100: u1's B is outside its earliest-100 slice -> only u2 at B
    assert(run(100) === Seq(
      (1, "A", 2L, 0L, 0L), (2, "B", 1L, 10L, 10L)))
    // a cap at/above every user's event count is a no-op
    assert(run(20000) === run(0))
  }

  test("rfmSegments: recency vs the dataset's last day, decimal monetary, " +
      "ntile quintiles with deterministic ties, and non-purchases only " +
      "move the as-of day") {
    val day = 86400000000000L
    // 5 purchasing users with strictly increasing recency/frequency/spend
    // so each lands in its own quintile; u6 has only a view -- excluded
    // from the report but its (latest) day defines as-of
    val rows =
      (1 to 5).flatMap { i =>
        (0 until i).map(j =>
          (i.toLong, (i.toLong * day) + j, "purchase", i * 10.0))
      } :+ ((6L, 9L * day, "view", 999.0))
    val e = rows.toDF("user_id", "ts", "et", "value")
    val out = EventAnalytics.rfmSegments(e, col("user_id"), col("ts"),
        col("et") === "purchase", col("value"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary").cast("double"), col("r_score"), col("f_score"),
        col("m_score"), col("segment"))
      .as[(Long, Int, Long, Double, Int, Int, Int, String)]
      .collect().sortBy(_._1).toSeq
    // as-of day = 9 (u6's view); user i purchased last on day i ->
    // recency 9-i; frequency i; monetary i*10*i
    out.foreach { case (u, rec, freq, mon, r, f, m, seg) =>
      assert(rec === (9 - u).toInt)
      assert(freq === u)
      assert(mon === u * 10.0 * u)
      // 5 users, 5 buckets: recency DESC puts the most recent (u5) in
      // bucket 5; frequency/monetary ascending put u5 in bucket 5 too
      assert((r, f, m) === ((u.toInt, u.toInt, u.toInt)))
      assert(seg === s"$u$u$u")
    }
  }

  test("eventTransitions: adjacency within the session gap only, " +
      "equal-ts order fixed by the tiebreak, n_users deduplicates") {
    val gap = EventAnalytics.SessionGapNanos
    val e = Seq(
      // u1: A->B->B (two transitions), then a gap past the cut breaks the
      // session -- C after the break contributes NO (B->C) edge, but the
      // next pair C->A inside the new session does
      (1L, 10L, "A", 1L), (1L, 20L, "B", 2L), (1L, 30L, "B", 3L),
      (1L, 31L + gap, "C", 4L), (1L, 41L + gap, "A", 5L),
      // u2: equal timestamps -- tiebreak (event_id) orders A(6) then
      // B(7), so the edge is A->B, never B->A; also a second A->B so
      // n_transitions=2 while n_users counts u2 once
      (2L, 40L, "A", 6L), (2L, 40L, "B", 7L), (2L, 60L, "A", 8L),
      (2L, 70L, "B", 9L),
      // u3: single event -- no transitions
      (3L, 10L, "A", 10L)).toDF("user_id", "ts", "et", "eid")
    val out = EventAnalytics.eventTransitions(e, col("user_id"), col("ts"),
        col("et"), col("eid"))
      .as[(String, String, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      ("A", "B", 3L, 2L), // u1 once + u2 twice; 2 distinct users
      ("B", "A", 1L, 1L), // u2's B@40 -> A@60
      ("B", "B", 1L, 1L),
      ("C", "A", 1L, 1L)))
    // exactly at the gap is still the same session; one past it is not
    val edge = Seq((1L, 0L, "A", 1L), (1L, gap, "B", 2L),
        (1L, 2 * gap + 1L, "C", 3L))
      .toDF("user_id", "ts", "et", "eid")
    val out2 = EventAnalytics.eventTransitions(edge, col("user_id"),
        col("ts"), col("et"), col("eid"))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out2 === Seq(("A", "B", 1L, 1L)))
  }

  test("eventAnomaly: hand-computed z over the trailing window; partial " +
      "priors excluded; constant priors give NULL z") {
    val dayNs = 86400000000000L
    // type "t": days 1..7 counts 1..7, day 8 a 100-event spike
    val tRows = (1 to 7).flatMap(d => (1 to d).map(i =>
      ("t", d * dayNs + i))) ++ (1 to 100).map(i => ("t", 8 * dayNs + i))
    // type "c": constant 3/day for 8 days -> std 0 -> z NULL on day 8
    val cRows = (1 to 8).flatMap(d => (1 to 3).map(i =>
      ("c", d * dayNs + i)))
    val df = (tRows ++ cRows).toDF("et", "ts")
    val got = EventAnalytics.eventAnomaly(df, col("et"), col("ts"))
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // only day 8 of each type has a full 7-day prior
    assert(got.map(r => (r._1, r._2)) === Seq(("c", 8L), ("t", 8L)))
    val c8 = got.head
    assert(c8._4 === 3.0 && c8._5 === 0.0 && c8._6.isEmpty)
    val t8 = got(1)
    val mean = 28.0 / 7.0
    val variance = ((1 to 7).map(x => x.toDouble * x).sum - 28.0 * 28.0 / 7.0) / 6.0
    assert(t8._3 === 100L && t8._4 === mean)
    assert(t8._5 === math.sqrt(variance))
    assert(t8._6.contains((100.0 - mean) / math.sqrt(variance)))
  }

  test("conversionAttribution: first/last touch within the session, " +
      "(none) for touchless conversions, sessions cut at the gap") {
    val gap = 1800L * 1000000000L
    val rows = Seq(
      // user 1, session 1: view -> click -> purchase
      (1L, 1L, "view", 1L), (1L, 2L, "click", 2L), (1L, 3L, "purchase", 3L),
      // user 1, session 2 (past the gap): signup -> purchase
      (1L, gap * 3, "signup", 4L), (1L, gap * 3 + 5L, "purchase", 5L),
      // user 2: purchase with no preceding touch
      (2L, 1L, "purchase", 6L),
      // user 3: touch in the PREVIOUS session must not attribute
      (3L, 1L, "view", 7L), (3L, gap * 9, "purchase", 8L))
      .toDF("user_id", "ts", "et", "eid")
    val got = EventAnalytics.conversionAttribution(rows, col("user_id"),
        col("ts"), col("et"), col("eid"), col("et") === "purchase")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("(none)", 2L, 2L),   // users 2 and 3
      ("click", 0L, 1L),    // last touch of u1 session 1
      ("signup", 1L, 1L),   // both models, u1 session 2
      ("view", 1L, 0L)))    // first touch of u1 session 1
  }

  test("conversionAttribution: equal-timestamp touches order by tiebreak") {
    val rows = Seq(
      (1L, 1L, "view", 10L), (1L, 1L, "click", 20L),
      (1L, 2L, "purchase", 30L))
      .toDF("user_id", "ts", "et", "eid")
    val got = EventAnalytics.conversionAttribution(rows, col("user_id"),
        col("ts"), col("et"), col("eid"), col("et") === "purchase")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // eid 10 (view) sorts before eid 20 (click) at the same ts
    assert(got === Seq(("click", 0L, 1L), ("view", 1L, 0L)))
  }

  test("sessionPaths: triples need BOTH hops inside the gap, count paths " +
      "and distinct walkers, order by n_paths desc then path") {
    val gap = 1800L * 1000000000L
    val rows = Seq(
      // u1 walks A->B->C twice (one session)
      (1L, 10L, "A", 1L), (1L, 20L, "B", 2L), (1L, 30L, "C", 3L),
      (1L, 40L, "A", 4L), (1L, 50L, "B", 5L), (1L, 60L, "C", 6L),
      // u2 walks A->B->C once; its SECOND hop exactly AT the gap counts
      (2L, 10L, "A", 7L), (2L, 20L, "B", 8L), (2L, 20L + gap, "C", 9L),
      // u3: second hop one past the gap -> no triple
      (3L, 10L, "A", 10L), (3L, 20L, "B", 11L),
      (3L, 21L + gap, "C", 12L),
      // u4: only two events -> no triple
      (4L, 10L, "A", 13L), (4L, 20L, "B", 14L))
      .toDF("user_id", "ts", "et", "eid")
    val got = EventAnalytics.sessionPaths(rows, col("user_id"), col("ts"),
        col("et"), col("eid"))
      .as[(String, String, String, Long, Long)].collect().toSeq
    // u1 contributes A,B,C / B,C,A / C,A,B / A,B,C -> ABC x2 + the two
    // cross-cycle triples; u2 contributes ABC x1
    assert(got.head === ("A", "B", "C", 3L, 2L))
    assert(got.toSet === Set(
      ("A", "B", "C", 3L, 2L),
      ("B", "C", "A", 1L, 1L),
      ("C", "A", "B", 1L, 1L)))
  }

  test("sessionPaths: equal timestamps order by tiebreak") {
    val rows = Seq(
      (1L, 10L, "A", 2L), (1L, 10L, "B", 1L), (1L, 20L, "C", 3L))
      .toDF("user_id", "ts", "et", "eid")
    val got = EventAnalytics.sessionPaths(rows, col("user_id"), col("ts"),
        col("et"), col("eid"))
      .as[(String, String, String, Long, Long)].collect().toSeq
    // eid 1 (B) precedes eid 2 (A) at ts 10 -> the only triple is B,A,C
    assert(got === Seq(("B", "A", "C", 1L, 1L)))
  }

  test("eventPairs: distinct collapse, exact marginals, hand lift") {
    val rows = Seq(
      // u1 does A (three times - must collapse) and B
      (1L, "A"), (1L, "A"), (1L, "A"), (1L, "B"),
      // u2 does A and B
      (2L, "A"), (2L, "B"),
      // u3 does A and C
      (3L, "A"), (3L, "C"),
      // u4 does only D - counts toward n_users, joins no pair
      (4L, "D"))
      .toDF("user_id", "et")
    val got = EventAnalytics.eventPairs(rows, col("user_id"), col("et"))
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    // n_users=4; A:3 users, B:2, C:1, D:1
    // (A,B): both=2, lift = 2*4/(3*2) = 4/3
    // (A,C): both=1, lift = 1*4/(3*1) = 4/3
    val ab = got.find(r => r._1 == "A" && r._2 == "B").get
    assert(ab === ("A", "B", 2L, 3L, 2L, 4L, 8.0 / 6.0))
    val ac = got.find(r => r._1 == "A" && r._2 == "C").get
    assert(ac === ("A", "C", 1L, 3L, 1L, 4L, 4.0 / 3.0))
    assert(got.size === 2) // no self-pairs, no D pairs
  }

  test("eventPairs: NULL user ids never count toward n_users (and never " +
      "join a pair) — SQL COUNT(DISTINCT) semantics") {
    val rows = Seq(
      (java.lang.Long.valueOf(1L), "A"), (java.lang.Long.valueOf(1L), "B"),
      (java.lang.Long.valueOf(2L), "A"), (java.lang.Long.valueOf(2L), "B"),
      (null.asInstanceOf[java.lang.Long], "A"),
      (null.asInstanceOf[java.lang.Long], "B"))
      .toDF("user_id", "et")
    val got = EventAnalytics.eventPairs(rows, col("user_id"), col("et"))
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    // the NULL row reaches the marginals (n_a = n_b = 3) but neither the
    // user total (n_users = 2) nor any pair (NULL never equi-joins)
    assert(got === Seq(("A", "B", 2L, 3L, 3L, 2L, 2.0 * 2.0 / 9.0)))
  }

  test("eventPairs: lift above and below 1 separates associated from " +
      "anti-associated behaviors") {
    // A and B always together (10 users); C popular but never with A
    val rows = (1L to 10L).flatMap(u => Seq((u, "A"), (u, "B"))) ++
      (11L to 20L).map(u => (u, "C")) ++ (1L to 20L).map(u => (u, "E"))
    val got = EventAnalytics.eventPairs(rows.toDF("user_id", "et"),
        col("user_id"), col("et"))
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    val ab = got.find(r => r._1 == "A" && r._2 == "B").get
    assert(ab._7 === 2.0) // 10*20/(10*10)
    assert(got.find(r => r._1 == "A" && r._2 == "C").isEmpty) // no co-user
    val ae = got.find(r => r._1 == "A" && r._2 == "E").get
    assert(ae._7 === 1.0) // independent of the universal E
  }

  test("timeDecayedPopularity: exact binary half-life decay, recency " +
      "beats raw volume, events beyond maxShift periods contribute 0") {
    val day = 86400L * 1000000000L
    // half-life 1 day. Newest event at day 10 -> ages 0, 1, 2, 40
    val rows = Seq(
      // "hot": 2 events at day 10 (w=1 each), 1 at day 9 (w=1/2)
      (1L, 10 * day, "hot"), (2L, 10 * day + 5L, "hot"),
      (3L, 9 * day, "hot"),
      // "old": 10 events at day 8 (w=1/4 each) -> 2.5 < hot's 2.5? No:
      // hot = 2.5, old = 2.5 -- make it 9 events -> 2.25 < 2.5
      (4L, 8 * day, "old"), (5L, 8 * day, "old"), (6L, 8 * day, "old"),
      (7L, 8 * day, "old"), (8L, 8 * day, "old"), (9L, 8 * day, "old"),
      (10L, 8 * day, "old"), (11L, 8 * day, "old"), (12L, 8 * day, "old"),
      // "dead": far beyond maxShift=36 periods -> exact 0
      (13L, -30 * day, "dead"))
      .toDF("event_id", "ts", "event_type")
    val got = EventAnalytics.timeDecayedPopularity(rows, col("event_type"),
        col("ts"), halfLifeDays = 1)
      .as[(String, Long, Double)].collect().toSeq
    // hot: 1 + 1 + 0.5 = 2.5; old: 9 * 0.25 = 2.25; dead: 0 despite n=1
    assert(got === Seq(("hot", 3L, 2.5), ("old", 9L, 2.25), ("dead", 1L, 0.0)))
  }

  test("timeDecayedPopularity: halfLifeDays sets the period width") {
    val day = 86400L * 1000000000L
    // half-life 7: days 70 and 72 share the [70, 77) period (age 0);
    // day 60 is in [56, 63) — two periods older (w = 1/4)
    val rows = Seq(
      (1L, 70 * day, "a"), (2L, 72 * day, "a"), (3L, 60 * day, "a"))
      .toDF("event_id", "ts", "event_type")
    val got = EventAnalytics.timeDecayedPopularity(rows, col("event_type"),
        col("ts"), halfLifeDays = 7)
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("a", 3L, 2.25)))
  }

  test("eventCadence: per-(user, type) consecutive gaps, hand " +
      "percentiles and mean; cross-user and cross-type gaps never mix") {
    val s = 1000000000L // 1 second in nanos
    val rows = Seq(
      // u1 "ping" at 0, 10, 30 -> gaps 10 s, 20 s
      (1L, 0L, "ping", 1L), (1L, 10 * s, "ping", 2L), (1L, 30 * s, "ping", 3L),
      // u2 "ping" at 100 -> no gap (single event)
      (2L, 100 * s, "ping", 4L),
      // u1 "click" at 5, 6 -> gap 1 s (must not merge with ping's)
      (1L, 5 * s, "click", 5L), (1L, 6 * s, "click", 6L))
      .toDF("user_id", "ts", "et", "eid")
    val got = EventAnalytics.eventCadence(rows, col("user_id"), col("ts"),
        col("et"), col("eid"))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("click", 1L, 1 * s, 1 * s, 1.0 * s),
      ("ping", 2L, 10 * s, 20 * s, 15.0 * s)))
  }

  test("eventCadence: a metronomic (bot) type shows p95 == p50") {
    val s = 1000000000L
    val bot = (0 until 50).map(i => (1L, i * 60 * s, "bot", i.toLong))
    val human = Seq((2L, 0L, "h", 100L), (2L, 10 * s, "h", 101L),
      (2L, 400 * s, "h", 102L), (2L, 401 * s, "h", 103L))
    val got = EventAnalytics.eventCadence((bot ++ human)
        .toDF("user_id", "ts", "et", "eid"),
        col("user_id"), col("ts"), col("et"), col("eid"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("bot")._3 === got("bot")._4) // p50 == p95: scripted
    assert(got("h")._4 > got("h")._3)       // organic spread
  }
}

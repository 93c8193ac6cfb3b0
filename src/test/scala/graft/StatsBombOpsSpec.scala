package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.StatsBombOps
import graft.sources.EventsJsonSource

/** End-to-end reference-pipeline semantics over StatsBomb-shaped JSON. */
class StatsBombOpsSpec extends SparkSpec {

  private lazy val nested = {
    val dir = SparkSpec.tempDir("graft_sb").toFile
    // two "matches"; player 30486 passes, assists, gets subbed off in m2
    val m1 =
      """[
        |{"id":"xi","index":0,"period":1,"minute":0,"second":0,
        | "type":{"id":35,"name":"Starting XI"},"team":{"id":1,"name":"T"},
        | "tactics":{"formation":433,"lineup":[
        |   {"player":{"id":30486,"name":"P"},"position":{"id":15,"name":"Left Center Midfield"}},
        |   {"player":{"id":7,"name":"R"},"position":{"id":23,"name":"Center Forward"}}]}},
        |{"id":"p1","index":1,"period":1,"minute":1,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":30486,"name":"P"},
        | "team":{"id":1,"name":"T"},"position":{"id":15,"name":"LCM"},
        | "location":[40.0,40.0],
        | "pass":{"end_location":[60.0,42.0],"recipient":{"id":7,"name":"R"}}},
        |{"id":"p2","index":2,"period":1,"minute":2,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":30486,"name":"P"},
        | "team":{"id":1,"name":"T"},"position":{"id":15,"name":"LCM"},
        | "location":[60.0,40.0],
        | "pass":{"end_location":[62.0,41.0],"outcome":{"id":9,"name":"Incomplete"}}},
        |{"id":"s1","index":3,"period":2,"minute":80,"second":0,
        | "type":{"id":16,"name":"Shot"},"player":{"id":7,"name":"R"},
        | "team":{"id":1,"name":"T"},"location":[110.0,40.0],
        | "shot":{"statsbomb_xg":0.4,"key_pass_id":"p1"}},
        |{"id":"e1","index":4,"period":2,"minute":93,"second":0,
        | "type":{"id":34,"name":"Half End"},"player":{"id":7,"name":"R"},
        | "team":{"id":1,"name":"T"}}
        |]""".stripMargin
    val m2 =
      """[
        |{"id":"q1","index":1,"period":1,"minute":0,"second":30,
        | "type":{"id":30,"name":"Pass"},"player":{"id":30486,"name":"P"},
        | "team":{"id":1,"name":"T"},"position":{"id":13,"name":"RCM"},
        | "location":[30.0,30.0],"pass":{"end_location":[45.0,31.0]}},
        |{"id":"q2","index":2,"period":2,"minute":60,"second":0,
        | "type":{"id":19,"name":"Substitution"},"player":{"id":30486,"name":"P"},
        | "team":{"id":1,"name":"T"},
        | "substitution":{"replacement":{"id":99,"name":"X"}}},
        |{"id":"q2b","index":3,"period":2,"minute":70,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":99,"name":"X"},
        | "team":{"id":1,"name":"T"},"location":[50.0,40.0],
        | "pass":{"end_location":[60.0,41.0]}},
        |{"id":"q2c","index":4,"period":2,"minute":80,"second":0,
        | "type":{"id":19,"name":"Substitution"},"player":{"id":99,"name":"X"},
        | "team":{"id":1,"name":"T"},
        | "substitution":{"replacement":{"id":7,"name":"R"}}},
        |{"id":"q3","index":5,"period":2,"minute":92,"second":0,
        | "type":{"id":34,"name":"Half End"},"player":{"id":7,"name":"R"},
        | "team":{"id":1,"name":"T"}}
        |]""".stripMargin
    // player 555 exercises the defensive/ball-carrying counters —
    // reference core/pedri_analysis.py:96-121 + extended.py:286-287
    val m3 =
      """[
        |{"id":"d1","index":1,"period":1,"minute":5,"second":0,
        | "type":{"id":14,"name":"Dribble"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[50.0,20.0],
        | "dribble":{"outcome":{"id":8,"name":"Complete"}}},
        |{"id":"d2","index":2,"period":1,"minute":6,"second":0,
        | "type":{"id":14,"name":"Dribble"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[52.0,22.0],
        | "dribble":{"outcome":{"id":9,"name":"Incomplete"}}},
        |{"id":"c1","index":3,"period":1,"minute":7,"second":0,
        | "type":{"id":43,"name":"Carry"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[10.0,10.0],
        | "carry":{"end_location":[13.0,14.0]}},
        |{"id":"c2","index":4,"period":1,"minute":8,"second":0,
        | "type":{"id":43,"name":"Carry"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[20.0,20.0]},
        |{"id":"t1","index":5,"period":1,"minute":9,"second":0,
        | "type":{"id":4,"name":"Duel"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[30.0,30.0],
        | "duel":{"type":{"id":11,"name":"Tackle"}}},
        |{"id":"t2","index":6,"period":1,"minute":10,"second":0,
        | "type":{"id":4,"name":"Duel"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[31.0,31.0],
        | "duel":{"type":{"id":10,"name":"Aerial Lost"}}},
        |{"id":"i1","index":7,"period":1,"minute":11,"second":0,
        | "type":{"id":10,"name":"Interception"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[40.0,40.0]},
        |{"id":"u1","index":8,"period":1,"minute":12,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[45.0,40.0],"under_pressure":true,
        | "pass":{"end_location":[50.0,41.0]}},
        |{"id":"u2","index":9,"period":1,"minute":13,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[50.0,40.0],
        | "pass":{"end_location":[55.0,41.0],"outcome":{"id":8,"name":"Complete"}}},
        |{"id":"u3","index":10,"period":1,"minute":14,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":555,"name":"D"},
        | "team":{"id":2,"name":"U"},"location":[55.0,40.0],"under_pressure":true,
        | "pass":{"end_location":[60.0,41.0],"outcome":{"id":9,"name":"Incomplete"}}}
        |]""".stripMargin
    // player 777 exercises analyze_match_extended's geometry counters
    // (reference extended.py:199-440); all first-half completed passes go
    // +x so the inferred direction is attacks-right and nothing flips
    val m4 =
      """[
        |{"id":"x1","index":1,"period":1,"minute":1,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[40.0,40.0],"under_pressure":true,
        | "pass":{"end_location":[85.0,50.0],"recipient":{"id":888,"name":"R"}}},
        |{"id":"x2","index":2,"period":1,"minute":2,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[90.0,40.0],
        | "pass":{"end_location":[105.0,40.0]}},
        |{"id":"x3","index":3,"period":1,"minute":3,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[90.0,20.0],
        | "pass":{"end_location":[110.0,40.0],"cross":true}},
        |{"id":"x4","index":4,"period":1,"minute":4,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[30.0,10.0],
        | "pass":{"end_location":[45.0,55.0]}},
        |{"id":"x5","index":5,"period":1,"minute":5,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[50.0,40.0],"under_pressure":true,
        | "pass":{"end_location":[55.0,41.0],"outcome":{"id":9,"name":"Incomplete"}}},
        |{"id":"x6","index":6,"period":1,"minute":6,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[10.0,10.0],
        | "pass":{"end_location":[12.0,11.0],"goal_assist":true}},
        |{"id":"x7","index":12,"period":1,"minute":9,"second":0,
        | "type":{"id":30,"name":"Pass"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[40.0,40.0],
        | "pass":{"end_location":[85.0,41.0],"outcome":{"id":9,"name":"Incomplete"}}},
        |{"id":"xs","index":7,"period":1,"minute":7,"second":0,
        | "type":{"id":16,"name":"Shot"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[100.0,40.0],
        | "shot":{"statsbomb_xg":0.5,"key_pass_id":"x6",
        |         "outcome":{"id":97,"name":"Goal"}}},
        |{"id":"xc","index":8,"period":1,"minute":8,"second":0,
        | "type":{"id":43,"name":"Carry"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[50.0,40.0],
        | "carry":{"end_location":[62.0,40.0]}},
        |{"id":"xm","index":9,"period":1,"minute":10,"second":0,
        | "type":{"id":38,"name":"Miscontrol"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[60.0,40.0]},
        |{"id":"xp1","index":10,"period":1,"minute":10,"second":3,
        | "type":{"id":17,"name":"Pressure"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[61.0,40.0]},
        |{"id":"xp2","index":11,"period":1,"minute":10,"second":30,
        | "type":{"id":17,"name":"Pressure"},"player":{"id":777,"name":"E"},
        | "team":{"id":3,"name":"V"},"location":[62.0,40.0]}
        |]""".stripMargin
    Files.writeString(new java.io.File(dir, "m1.json").toPath, m1)
    Files.writeString(new java.io.File(dir, "m2.json").toPath, m2)
    Files.writeString(new java.io.File(dir, "m3.json").toPath, m3)
    Files.writeString(new java.io.File(dir, "m4.json").toPath, m4)
    EventsJsonSource.read(spark, dir.getAbsolutePath).cache()
  }

  private lazy val flat = EventsJsonSource.flatten(nested).cache()

  test("matchStats reproduces the reference per-match counters") {
    val stats = StatsBombOps.matchStats(flat)
      .filter(col("player_id") === 30486L)
      .collect().map(r => r.getAs[String]("match_file") -> r).toMap
    val m1 = stats.keys.find(_.contains("m1.json")).map(stats).get
    assert(m1.getAs[Long]("total_pass") == 2)
    assert(m1.getAs[Long]("comp_pass") == 1) // p2 has an outcome → incomplete
    assert(m1.getAs[Long]("key_passes") == 0) // shot_assist flag unset in the JSON; credit flows via xA
    assert(m1.getAs[Long]("prog_pass") == 1) // p1: dx=20 > dy=2, >= 10
    assert(m1.getAs[Double]("pass_pct") == 50.0)
  }

  test("matchStats covers the defensive and ball-carrying counters") {
    val s = StatsBombOps.matchStats(flat)
      .filter(col("player_id") === 555L).head()
    assert(s.getAs[Long]("dribbles_attempted") == 2)
    assert(s.getAs[Long]("dribbles_completed") == 1) // only outcome "Complete"
    assert(s.getAs[Long]("carries") == 2)
    // c1 moves (10,10)→(13,14) = 5.0; c2 has no end_location → 0.0
    assert(s.getAs[Double]("carry_distance_units") == 5.0)
    assert(s.getAs[Long]("tackles") == 1) // the Aerial Lost duel is not a tackle
    assert(s.getAs[Long]("interceptions") == 1)
    // completed-gated: u3 is under pressure but incomplete
    assert(s.getAs[Long]("passes_under_pressure") == 1)
    // an explicit "Complete" outcome counts as completed (reference :85-90)
    assert(s.getAs[Long]("total_pass") == 3 && s.getAs[Long]("comp_pass") == 2)
  }

  test("extendedMatchStats reproduces analyze_match_extended's counters") {
    val s = StatsBombOps.extendedMatchStats(flat)
      .filter(col("player_id") === 777L).head()
    assert(s.getAs[Long]("passes_total") == 7)
    assert(s.getAs[Long]("passes_completed") == 5) // x5, x7 incomplete
    assert(s.getAs[Long]("key_passes") == 1) // x6 via goal_assist
    assert(s.getAs[Long]("shots") == 1 && s.getAs[Long]("goals") == 1)
    assert(s.getAs[Double]("xg") == 0.5)
    assert(s.getAs[Long]("shots_after_key_pass") == 1)
    assert(s.getAs[Long]("turnovers") == 1) // the Miscontrol
    // completed-gated: x5 is under pressure but incomplete
    assert(s.getAs[Long]("passes_under_pressure") == 1)
    assert(s.getAs[Long]("passes_into_final_third") == 3) // x1 x2 x3
    assert(s.getAs[Long]("passes_into_penalty_area") == 2) // x2 x3
    assert(s.getAs[Long]("deep_completions") == 1) // x2; x3 is a cross
    assert(s.getAs[Long]("switches_of_play") == 1) // x4: dy 45, dist ~47
    // x1 (gain 45/80), x2 (15/30), x3 (20/30); x4 fails the 30% rule and
    // x7 is progressive-shaped but INCOMPLETE (the reference's gate)
    assert(s.getAs[Long]("progressive_passes") == 3)
    assert(s.getAs[Long]("progressive_carries") == 1)
    assert(s.getAs[Double]("carry_distance") == 12.0)
    assert(math.abs(s.getAs[Double]("pass_pct") - 500.0 / 7) < 1e-9)
    assert(s.getAs[Double]("dribbles_pct") == 0.0)
    assert(s.getAs[Long]("pressures") == 2)
  }

  test("progressiveReceptions credits the receiver of progressive passes") {
    val r = StatsBombOps.progressiveReceptions(flat)
      .filter(col("player_id") === 888L).head()
    assert(r.getAs[Long]("progressive_receptions") == 1) // x1 only has a recipient
  }

  test("pressuresAfterLoss counts own pressures within 5s of own turnovers") {
    val p = StatsBombOps.pressuresAfterLoss(flat).collect()
    assert(p.length == 1)
    assert(p.head.getAs[Long]("player_id") == 777L)
    // xp1 at +3s counts; xp2 at +30s does not
    assert(p.head.getAs[Long]("pressures_after_loss") == 1)
  }

  test("teamTotalXg sums the whole team's shot xG per match") {
    val t = StatsBombOps.teamTotalXg(flat)
      .filter(col("team_id") === 3L).head()
    assert(t.getAs[Double]("team_total_xg") == 0.5)
  }

  test("minutesPlayed honors the substitution window (exact reference rule)") {
    val mins = StatsBombOps.minutesPlayed(flat, 30486L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val m1 = mins.keys.find(_.contains("m1.json")).map(mins).get
    val m2 = mins.keys.find(_.contains("m2.json")).map(mins).get
    // no substitution in m1 → span of the player's OWN events (1 min),
    // clamped up to the reference's 10-minute floor
    assert(m1 == 10.0)
    // subbed off at 60:00, started (no sub-on) → 60 − 0
    assert(m2 == 60.0)
    // player 99 came ON at 60:00 and went OFF at 80:00 → 20 minutes
    val sub = StatsBombOps.minutesPlayed(flat, 99L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sub.keys.find(_.contains("m2.json")).map(sub).get == 20.0)
  }

  test("xA credits the passer with the shot's xG") {
    val xa = StatsBombOps.xA(flat)
      .filter(col("player_id") === 30486L).collect()
    assert(xa.length == 1)
    assert(xa.head.getAs[Double]("xa") == 0.4)
  }

  test("withAttackDirection flips the pitch for left-attacking halves") {
    val adjusted = StatsBombOps.withAttackDirection(flat)
    // m1: first-half completed pass p1 goes +x → attacks right in p1,
    // so p1's coordinates are unchanged...
    val p1 = adjusted.filter(col("event_id") === "p1").head()
    assert(p1.getAs[Double]("x") == 40.0 && p1.getAs[Double]("x2") == 60.0)
    assert(p1.getAs[Boolean]("attacks_right"))
    // ...and the second-half shot s1 is flipped (team swaps ends)
    val s1 = adjusted.filter(col("event_id") === "s1").head()
    assert(!s1.getAs[Boolean]("attacks_right"))
    assert(s1.getAs[Double]("x") == 10.0) // 120 - 110
    assert(s1.getAs[Double]("y") == 40.0) // 80 - 40
  }

  test("heatmapBins: histogram2d-compatible 48x32 binning with log1p intensity") {
    val bins = StatsBombOps.heatmapBins(flat, "pass").collect()
    // total binned = completed passes with an in-range location
    val expected = flat.filter(col("completed_pass") &&
      col("x").isNotNull && col("y").isNotNull).count()
    assert(bins.map(_.getAs[Long]("n")).sum == expected)
    bins.foreach { r =>
      val (bx, by, n) = (r.getAs[Int]("bx"), r.getAs[Int]("by"), r.getAs[Long]("n"))
      assert(bx >= 0 && bx < 48 && by >= 0 && by < 32)
      assert(r.getAs[Double]("intensity") == math.log1p(n.toDouble))
    }
    // x1 starts at (40, 40) → cell (16, 16)
    assert(bins.exists(r => r.getAs[Int]("bx") == 16 && r.getAs[Int]("by") == 16))
    // carries bin separately
    assert(StatsBombOps.heatmapBins(flat, "carry")
      .agg(sum(col("n"))).head().getLong(0) ==
      flat.filter(col("event_type") === "Carry" && col("x").isNotNull).count())
  }

  test("lineupPositions reads the Starting XI tactics array") {
    val xi = StatsBombOps.lineupPositions(nested).collect()
      .map(r => r.getAs[Long]("player_id") -> r.getAs[String]("lineup_position"))
      .toMap
    assert(xi == Map(30486L -> "Left Center Midfield", 7L -> "Center Forward"))
  }

  test("positionFrequency ranks positions per player") {
    val top = StatsBombOps.positionFrequency(flat)
      .filter(col("player_id") === 30486L && col("rank") === 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[String]("position") == "LCM") // 1 LCM+... ties broken alphabetically
  }
}

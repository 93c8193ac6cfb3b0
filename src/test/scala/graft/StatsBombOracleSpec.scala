package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.StatsBombOps
import graft.sources.EventsJsonSource

import scala.sys.process.{Process, ProcessLogger}

/** Oracle-grades the StatsBomb surface (VERDICT r3 #3): the deterministic
  * branch-coverage fixture goes through the REAL ingestion path
  * (`EventsJsonSource.read` → `flatten`), each StatsBombOps output is
  * dumped to parquet, and `tools/check_correctness.py` hash-compares every
  * one against an independent DuckDB SQL derivation over the same
  * flattened parquet — the exact pattern of the driver's correctness gate,
  * run inside CI.
  *
  * Float discipline: the fixture's summed doubles are exactly
  * representable (binary-fraction xg, Pythagorean carry segments), so
  * SUMs agree bit-for-bit in any aggregation order; ratios and per-90s
  * are single exactly-rounded IEEE expressions evaluated identically by
  * both engines. `heatmapBins.intensity` (log1p) is the one column
  * excluded from the compare — libm transcendentals are not guaranteed
  * bit-identical across engines; the (bx, by, n) binning is what the
  * oracle pins, and intensity is deterministic given n.
  */
class StatsBombOracleSpec extends SparkSpec {

  // ---- DuckDB SQL twins -------------------------------------------------

  /** reference pedri_analysis.py:154-162 on raw coordinates. */
  private val progBasic = "x2 - x >= 10.0 AND x2 - x > ABS(y2 - y)"

  /** reference extended.py:110-130 on (already-adjusted) coordinates. */
  private val progExt =
    """completed_pass AND x IS NOT NULL AND x2 IS NOT NULL
      |      AND x2 - x >= 10.0 AND GREATEST(0.0, 120.0 - x) > 0.0
      |      AND (GREATEST(0.0, 120.0 - x) - GREATEST(0.0, 120.0 - x2))
      |          >= GREATEST(0.0, 120.0 - x) * 0.3""".stripMargin

  /** The direction-adjustment CTEs (twin of `withAttackDirection`):
    * majority Δx sign of period-1 completed passes per (team, match),
    * half-time flip by period parity, coordinate flip where attacking
    * left. */
  private def dirAdj(f: String): String =
    s"""WITH dir AS (
       |  SELECT team_id AS d_team, match_file AS d_match,
       |    COUNT(CASE WHEN x2 > x THEN 1 END) >
       |    COUNT(CASE WHEN x2 < x THEN 1 END) AS ar1
       |  FROM $f WHERE completed_pass AND period = 1 GROUP BY 1, 2
       |), adj AS (
       |  SELECT e.* EXCLUDE (x, y, x2, y2),
       |    CASE WHEN ar THEN x ELSE 120.0 - x END AS x,
       |    CASE WHEN ar THEN y ELSE 80.0 - y END AS y,
       |    CASE WHEN ar THEN x2 ELSE 120.0 - x2 END AS x2,
       |    CASE WHEN ar THEN y2 ELSE 80.0 - y2 END AS y2
       |  FROM (SELECT f.*, CASE WHEN period % 2 = 1 THEN COALESCE(d.ar1, TRUE)
       |                         ELSE NOT COALESCE(d.ar1, TRUE) END AS ar
       |        FROM $f f LEFT JOIN dir d
       |          ON f.team_id = d.d_team AND f.match_file = d.d_match) e
       |)""".stripMargin

  private val carryDist =
    "COALESCE(SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)), 0.0)"

  /** reference pedri_analysis.py:231-299 compute_stats_for_match. */
  private def matchStatsSql(f: String): String =
    s"""WITH base AS (
       |  SELECT player_id, match_file,
       |    COUNT(*) AS n_events,
       |    COUNT(CASE WHEN event_type = 'Pass' THEN 1 END) AS total_pass,
       |    COUNT(CASE WHEN completed_pass THEN 1 END) AS comp_pass,
       |    COUNT(CASE WHEN key_pass THEN 1 END) AS key_passes,
       |    COUNT(CASE WHEN event_type = 'Pass' AND $progBasic THEN 1 END) AS prog_pass,
       |    COUNT(CASE WHEN event_type = 'Carry' AND $progBasic THEN 1 END) AS prog_carries,
       |    COUNT(CASE WHEN event_type = 'Shot' THEN 1 END) AS shots,
       |    SUM(CASE WHEN event_type = 'Shot' THEN xg ELSE 0.0 END) AS total_xg,
       |    COUNT(CASE WHEN event_type = 'Dribble' THEN 1 END) AS dribbles_attempted,
       |    COUNT(CASE WHEN event_type = 'Dribble' AND dribble_outcome = 'Complete' THEN 1 END) AS dribbles_completed,
       |    COUNT(CASE WHEN event_type = 'Carry' THEN 1 END) AS carries,
       |    SUM(CASE WHEN event_type = 'Carry' THEN $carryDist ELSE 0.0 END) AS carry_distance_units,
       |    COUNT(CASE WHEN event_type = 'Pressure' THEN 1 END) AS pressures,
       |    COUNT(CASE WHEN event_type = 'Duel' AND duel_type = 'Tackle' THEN 1 END) AS tackles,
       |    COUNT(CASE WHEN event_type = 'Interception' THEN 1 END) AS interceptions,
       |    COUNT(CASE WHEN event_type = 'Ball Recovery' THEN 1 END) AS recoveries,
       |    COUNT(CASE WHEN event_type = 'Dispossessed' THEN 1 END) AS dispossessed,
       |    COUNT(CASE WHEN completed_pass AND under_pressure THEN 1 END) AS passes_under_pressure,
       |    MIN(t_sec) AS first_sec, MAX(t_sec) AS last_sec
       |  FROM $f WHERE player_id IS NOT NULL GROUP BY 1, 2
       |), m AS (
       |  SELECT *,
       |    CASE WHEN total_pass > 0 THEN comp_pass * 100.0 / total_pass END AS pass_pct,
       |    GREATEST(10.0, LEAST(95.0, (last_sec - first_sec) / 60.0)) AS minutes_est
       |  FROM base
       |)
       |SELECT *, total_pass * 90.0 / minutes_est AS passes_per90,
       |       total_xg * 90.0 / minutes_est AS xg_per90 FROM m""".stripMargin

  /** reference extended.py:199-440 analyze_match_extended counters. */
  private def extendedSelect: String =
    s"""SELECT player_id, match_file,
       |    COUNT(CASE WHEN event_type = 'Pass' THEN 1 END) AS passes_total,
       |    COUNT(CASE WHEN completed_pass THEN 1 END) AS passes_completed,
       |    COUNT(CASE WHEN completed_pass AND (key_pass OR goal_assist) THEN 1 END) AS key_passes,
       |    COUNT(CASE WHEN event_type = 'Shot' THEN 1 END) AS shots,
       |    COUNT(CASE WHEN event_type = 'Shot' AND shot_outcome = 'Goal' THEN 1 END) AS goals,
       |    SUM(CASE WHEN event_type = 'Shot' THEN xg ELSE 0.0 END) AS xg,
       |    COUNT(CASE WHEN event_type = 'Shot' AND key_pass_id IS NOT NULL THEN 1 END) AS shots_after_key_pass,
       |    COUNT(CASE WHEN event_type = 'Dribble' THEN 1 END) AS dribbles_attempted,
       |    COUNT(CASE WHEN event_type = 'Dribble' AND dribble_outcome = 'Complete' THEN 1 END) AS dribbles_completed,
       |    COUNT(CASE WHEN event_type IN ('Miscontrol', 'Dispossessed') THEN 1 END) AS turnovers,
       |    COUNT(CASE WHEN event_type = 'Pressure' THEN 1 END) AS pressures,
       |    COUNT(CASE WHEN event_type = 'Duel' AND duel_type = 'Tackle' THEN 1 END) AS tackles,
       |    COUNT(CASE WHEN event_type = 'Interception' THEN 1 END) AS interceptions,
       |    COUNT(CASE WHEN event_type = 'Ball Recovery' THEN 1 END) AS ball_recoveries,
       |    COUNT(CASE WHEN completed_pass AND under_pressure THEN 1 END) AS passes_under_pressure,
       |    COUNT(CASE WHEN completed_pass AND x2 >= 80.0 THEN 1 END) AS passes_into_final_third,
       |    COUNT(CASE WHEN completed_pass AND x2 >= 102.0 AND y2 >= 18.0 AND y2 <= 62.0 THEN 1 END) AS passes_into_penalty_area,
       |    COUNT(CASE WHEN completed_pass AND NOT pass_cross AND x2 IS NOT NULL
       |               AND GREATEST(0.0, 120.0 - x2) < 20.0 THEN 1 END) AS deep_completions,
       |    COUNT(CASE WHEN completed_pass AND x IS NOT NULL AND x2 IS NOT NULL
       |               AND ABS(y2 - y) >= 40.0 THEN 1 END) AS switches_of_play,
       |    COUNT(CASE WHEN $progExt THEN 1 END) AS progressive_passes,
       |    COUNT(CASE WHEN event_type = 'Carry' AND x IS NOT NULL AND x2 IS NOT NULL
       |               AND x2 - x >= 10.0 THEN 1 END) AS progressive_carries,
       |    SUM(CASE WHEN event_type = 'Carry' THEN $carryDist ELSE 0.0 END) AS carry_distance
       |  FROM adj WHERE player_id IS NOT NULL GROUP BY 1, 2""".stripMargin

  private def extendedSql(f: String): String =
    s"""${dirAdj(f)}, base AS (
       |$extendedSelect
       |)
       |SELECT *,
       |  CASE WHEN passes_total > 0 THEN passes_completed * 100.0 / passes_total ELSE 0.0 END AS pass_pct,
       |  CASE WHEN dribbles_attempted > 0 THEN dribbles_completed * 100.0 / dribbles_attempted ELSE 0.0 END AS dribbles_pct
       |FROM base""".stripMargin

  private def oracles(f: String, n: String, p: String): Map[String, String] = Map(
    "sb_match_stats" -> matchStatsSql(f),
    "sb_extended" -> extendedSql(f),
    // reference extended.py:338-353
    "sb_receptions" ->
      s"""${dirAdj(f)}
         |SELECT recipient_id AS player_id, match_file,
         |       COUNT(*) AS progressive_receptions
         |FROM adj
         |WHERE event_type = 'Pass' AND $progExt AND recipient_id IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,
    // reference extended.py:356-384
    "sb_pal" ->
      s"""WITH losses AS (
         |  SELECT player_id AS lp, match_file AS lm, period AS lper, t_sec AS ls
         |  FROM $f WHERE event_type IN ('Miscontrol', 'Dispossessed')
         |)
         |SELECT e.player_id, e.match_file,
         |       COUNT(DISTINCT e.event_id) AS pressures_after_loss
         |FROM $f e JOIN losses l
         |  ON e.player_id = l.lp AND e.match_file = l.lm AND e.period = l.lper
         | AND e.t_sec >= l.ls AND e.t_sec <= l.ls + 5
         |WHERE e.event_type = 'Pressure'
         |GROUP BY 1, 2""".stripMargin,
    // reference extended.py:246-249 (per-team variant, see teamTotalXg doc)
    "sb_team_xg" ->
      s"""SELECT team_id, match_file, SUM(COALESCE(xg, 0.0)) AS team_total_xg
         |FROM $f WHERE event_type = 'Shot' GROUP BY 1, 2""".stripMargin,
    // reference pedri_analysis.py:201-218
    "sb_minutes" ->
      s"""WITH own AS (
         |  SELECT match_file, MIN(t_sec) AS first_sec, MAX(t_sec) AS last_sec
         |  FROM $f WHERE player_id = 1001 GROUP BY 1
         |), off AS (
         |  SELECT match_file AS m_off, MAX(t_sec) AS off_sec
         |  FROM $f WHERE event_type = 'Substitution' AND player_id = 1001 GROUP BY 1
         |), onn AS (
         |  SELECT match_file AS m_on, MAX(t_sec) AS on_sec
         |  FROM $f WHERE event_type = 'Substitution' AND sub_replacement_id = 1001 GROUP BY 1
         |)
         |SELECT own.match_file,
         |  CASE WHEN off_sec IS NOT NULL
         |       THEN GREATEST(0.0, LEAST(95.0, (off_sec - COALESCE(on_sec, 0)) / 60.0))
         |       ELSE GREATEST(10.0, LEAST(95.0, (last_sec - first_sec) / 60.0)) END AS minutes
         |FROM own LEFT JOIN off ON own.match_file = m_off
         |         LEFT JOIN onn ON own.match_file = m_on""".stripMargin,
    // reference extended.py:245-253
    "sb_xa" ->
      s"""SELECT p.player_id, p.match_file,
         |       COUNT(*) AS n_assisted_shots, SUM(s.xg) AS xa
         |FROM (SELECT event_id, player_id, match_file FROM $f
         |      WHERE event_type = 'Pass') p
         |JOIN (SELECT key_pass_id, xg FROM $f WHERE key_pass_id IS NOT NULL) s
         |  ON p.event_id = s.key_pass_id
         |GROUP BY 1, 2""".stripMargin,
    // reference extended.py:520-541 — pp vs pc scatter feed, xA-scaled
    // marker size with the 20.0 floor
    "sb_scatter" ->
      s"""${dirAdj(f)}, base AS (
         |$extendedSelect
         |), xa AS (
         |  SELECT p.player_id AS xpid, p.match_file AS xmf, SUM(s.xg) AS xa
         |  FROM (SELECT event_id, player_id, match_file FROM $f
         |        WHERE event_type = 'Pass') p
         |  JOIN (SELECT key_pass_id, xg FROM $f WHERE key_pass_id IS NOT NULL) s
         |    ON p.event_id = s.key_pass_id
         |  GROUP BY 1, 2
         |)
         |SELECT player_id, match_file,
         |       progressive_passes AS pp, progressive_carries AS pc,
         |       COALESCE(xa, 0.0) AS xa,
         |       GREATEST(20.0, COALESCE(xa, 0.0) * 300.0) AS marker_size
         |FROM base LEFT JOIN xa ON player_id = xpid AND match_file = xmf""".stripMargin,
    // reference extended.py:543-585 histogram2d binning (intensity
    // excluded — see class doc)
    "sb_heatmap" ->
      s"""SELECT CAST(LEAST(FLOOR(x / 2.5), 47.0) AS INTEGER) AS bx,
         |       CAST(LEAST(FLOOR(y / 2.5), 31.0) AS INTEGER) AS "by",
         |       COUNT(*) AS n
         |FROM $f
         |WHERE completed_pass AND x IS NOT NULL AND y IS NOT NULL
         |  AND x >= 0.0 AND x <= 120.0 AND y >= 0.0 AND y <= 80.0
         |GROUP BY 1, 2""".stripMargin,
    // reference pedri_profile.py Counter.most_common
    "sb_positions" ->
      s"""SELECT player_id, "position", n,
         |  ROW_NUMBER() OVER (PARTITION BY player_id
         |                     ORDER BY n DESC, "position" ASC) AS "rank"
         |FROM (SELECT player_id, "position", COUNT(*) AS n
         |      FROM $f WHERE "position" IS NOT NULL GROUP BY 1, 2)""".stripMargin,
    // reference pedri_analysis.py:190-198 (over the NESTED frame)
    "sb_lineups" ->
      s"""SELECT match_file, team_id,
         |       u.player.id AS player_id, u.position.name AS lineup_position
         |FROM (SELECT match_file, "team".id AS team_id,
         |             UNNEST(tactics.lineup) AS u
         |      FROM $n WHERE "type".name = 'Starting XI')""".stripMargin,
    // reference extended.py:40-58 + :203-205
    "sb_extended_meta" ->
      s"""${dirAdj(f)}, base AS (
         |$extendedSelect
         |), ext AS (
         |  SELECT *,
         |    CASE WHEN passes_total > 0 THEN passes_completed * 100.0 / passes_total ELSE 0.0 END AS pass_pct,
         |    CASE WHEN dribbles_attempted > 0 THEN dribbles_completed * 100.0 / dribbles_attempted ELSE 0.0 END AS dribbles_pct
         |  FROM base
         |)
         |SELECT e.*,
         |  COALESCE(NULLIF(p.team, ''), 'Barcelona/Spain') AS profile_team,
         |  COALESCE(NULLIF(p.minutes, 0.0), 90.0) AS profile_minutes,
         |  COALESCE(NULLIF(p."position", ''), 'Unknown') AS profile_position
         |FROM ext e LEFT JOIN $p p
         |  ON regexp_extract(e.match_file, '([^/]+)\\.json$$', 1) = p.match_id""".stripMargin)

  // ---- the gate ---------------------------------------------------------

  test("every StatsBombOps output hash-matches its DuckDB oracle on the branch-coverage fixture") {
    val probe = Process(Seq("python3", "-c", "import duckdb, pandas")).!(ProcessLogger(_ => ()))
    assume(probe == 0, "python3 + duckdb unavailable; oracle compare skipped")

    val dir = SparkSpec.tempDir("graft_sb_oracle")
    val (eventsDir, profilePath) = StatsBombFixture.write(dir)

    val nested = EventsJsonSource.read(spark, eventsDir).cache()
    val flat = EventsJsonSource.flatten(nested).cache()
    val profileDf = StatsBombOps.readProfile(spark, profilePath)

    // inputs both engines read
    flat.coalesce(1).write.parquet(s"$dir/flat")
    nested.coalesce(1).write.parquet(s"$dir/nested")
    profileDf.coalesce(1).write.parquet(s"$dir/profile")

    // every member of the StatsBomb surface; null-player groups (Starting
    // XI rows carry no player) are out of scope for per-player stats
    val extended = StatsBombOps.extendedMatchStats(flat)
      .filter(col("player_id").isNotNull)
    val queries: Map[String, DataFrame] = Map(
      "sb_match_stats" -> StatsBombOps.matchStats(flat).filter(col("player_id").isNotNull),
      "sb_extended" -> extended,
      "sb_receptions" -> StatsBombOps.progressiveReceptions(flat),
      "sb_pal" -> StatsBombOps.pressuresAfterLoss(flat),
      "sb_team_xg" -> StatsBombOps.teamTotalXg(flat),
      "sb_minutes" -> StatsBombOps.minutesPlayed(flat, 1001L),
      "sb_xa" -> StatsBombOps.xA(flat),
      "sb_scatter" -> StatsBombOps.scatterPpVsPc(flat),
      "sb_heatmap" -> StatsBombOps.heatmapBins(flat).select("bx", "by", "n"),
      "sb_positions" -> StatsBombOps.positionFrequency(flat),
      "sb_lineups" -> StatsBombOps.lineupPositions(nested),
      "sb_extended_meta" -> StatsBombOps.withMatchMeta(extended, profileDf))

    val out = s"$dir/out"
    queries.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"$out/$name")
    }

    val sql = oracles(
      f = s"read_parquet('$dir/flat/*.parquet')",
      n = s"read_parquet('$dir/nested/*.parquet')",
      p = s"read_parquet('$dir/profile/*.parquet')")
    assert(sql.keySet == queries.keySet)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      sql.map { case (k, v) => s"${Verify.jsonQuote(k)}: ${Verify.jsonQuote(v)}" }
        .mkString("{", ",", "}"))

    val log = new StringBuilder
    val code = Process(Seq("python3", "tools/check_correctness.py", out, s"$dir/nosf"))
      .!(ProcessLogger(l => log.append(l).append('\n')))
    info(log.toString)
    assert(code == 0, s"oracle compare failed (artifacts kept at $dir):\n$log")
    assert(log.toString.contains(s"${queries.size} pass, 0 fail"),
      s"unexpected summary (artifacts kept at $dir):\n$log")

    // green runs clean up after themselves; a failing run keeps the dir
    // (its path is in the assertion output) for inspection
    nested.unpersist(); flat.unpersist()
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

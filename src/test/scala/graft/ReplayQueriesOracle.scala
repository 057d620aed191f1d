package graft

import graft.queries.ReplayTables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The replay queries as they ran before they moved onto the collected
  * [[graft.queries.ReplaySlice]]: one DataFrame program per query
  * (queries.py:1-74). Kept in test scope as the oracle the slice
  * functions are checked against. Their tie order is unspecified (hash
  * partitioning decides it), so results compare as multisets;
  * `leaderboard` takes a row limit so a check can see every row of the
  * ranks that LIMIT 5 cuts.
  */

object ReplayQueriesOracle {

  /** fs_vehicles (queries.py:4-8): vehicle roster with counts. */
  def fsVehicles(t: ReplayTables, replay: Int): DataFrame =
    t.vehicles
      .filter(col("replay_number") === replay)
      .groupBy(col("name"), col("type"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("type"), col("name"))

  /** dense_rank via the shared broadcast rank map
    * ([[graft.operators.TopK.withDenseRank]]) — no single-partition
    * `Window.orderBy` exchange; rank cast to int to keep the
    * reference's rendered row shape. */
  def leaderboard(t: ReplayTables, replay: Int, tk: Boolean, rows: Int = 5): DataFrame = {
    val f = t.frags
      .filter(col("is_tk") === tk && col("replay_number") === replay)
    val agg = f.join(broadcast(t.dPlayers), f("killer") === t.dPlayers("id_from_json"))
      .groupBy(col("killer"), col("nickname"))
      .agg(count(col("killer")).as("count"))
    graft.operators.TopK.withDenseRank(agg, "count", 5)
      .select(col("killer"), col("nickname"), col("count"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("rank"))
      .limit(rows)
  }

  /** fs_cutlets (queries.py:11-17): top-5 killers, dense-ranked. */
  def fsCutlets(t: ReplayTables, replay: Int): DataFrame =
    leaderboard(t, replay, tk = false)

  /** fs_tks (queries.py:20-26): top-5 teamkillers. */
  def fsTks(t: ReplayTables, replay: Int): DataFrame =
    leaderboard(t, replay, tk = true)

  /** Shared frame of fs_fb / fs_lh / fs_ls (queries.py:29-53): frags with
    * killer and victim nicknames resolved via two left joins against the
    * same broadcast dimension. */
  private def fragsNamed(t: ReplayTables, replay: Int): DataFrame = {
    val f = t.frags.filter(col("replay_number") === replay)
    val dp = broadcast(t.dPlayers.as("dp"))
    val dp2 = broadcast(t.dPlayers.as("dp2"))
    f.join(dp, f("killer") === col("dp.id_from_json"), "left")
      .join(dp2, f("victim") === col("dp2.id_from_json"), "left")
      .select(
        f("time"),
        f("killer"),
        f("victim"),
        col("dp.nickname").as("killer_nickname"),
        col("dp2.nickname").as("victim_nickname"),
        f("killer_vehicle"),
        f("victim_vehicle"),
        f("distance"),
        f("is_tk"),
        f("gun"))
  }

  /** fs_fb (queries.py:29-35): first blood. */
  def fsFb(t: ReplayTables, replay: Int): DataFrame =
    fragsNamed(t, replay).orderBy(col("time")).limit(1)

  /** fs_lh (queries.py:38-44): last hit. */
  def fsLh(t: ReplayTables, replay: Int): DataFrame =
    fragsNamed(t, replay).orderBy(col("time").desc).limit(1)

  /** fs_ls (queries.py:47-53): farthest kill, NULL distances last. */
  def fsLs(t: ReplayTables, replay: Int): DataFrame =
    fragsNamed(t, replay)
      .orderBy(col("distance").isNull, col("distance").desc)
      .limit(1)

  private def registerSurvivorViews(t: ReplayTables): Unit = {
    t.players.createOrReplaceTempView("graft_players")
    t.dPlayers.createOrReplaceTempView("graft_d_players")
    t.frags.createOrReplaceTempView("graft_frags")
  }

  /** fs_survivors (queries.py:56-59): players never seen as a victim.
    * The subquery deliberately scans frags of ALL replays, and NOT IN is
    * null-aware (a NULL victim empties the result) — both reference
    * quirks kept by running the query as SQL. */
  def fsSurvivors(t: ReplayTables, replay: Int): DataFrame = {
    registerSurvivorViews(t)
    t.players.sparkSession.sql(
      s"""SELECT p.id_from_json, dp.nickname, side
          FROM graft_players p
          JOIN graft_d_players dp ON p.id_from_json = dp.id_from_json
          WHERE p.id_from_json NOT IN (SELECT victim FROM graft_frags f)
            AND p.replay_number = $replay""")
  }

  /** fs_survivors_group (queries.py:62-74): survivors per side with the
    * emoji CASE decode. `GROUP BY side` resolves to the INPUT column
    * (PG and Spark agree), so grouping is on the raw side int. */
  def fsSurvivorsGroup(t: ReplayTables, replay: Int): DataFrame = {
    registerSurvivorViews(t)
    t.players.sparkSession.sql(
      s"""SELECT CASE
                WHEN side = 1 THEN ':red_square: EAST'
                WHEN side = 2 THEN ':blue_square: WEST'
                WHEN side = 3 THEN ':green_square: GUER'
                WHEN side = 4 THEN ':purple_square: CIV'
                END AS side,
                count(p.id_from_json) AS count
          FROM graft_players p
          JOIN graft_d_players dp ON p.id_from_json = dp.id_from_json
          WHERE p.id_from_json NOT IN (SELECT victim FROM graft_frags f)
            AND p.replay_number = $replay
          GROUP BY side
          ORDER BY count DESC""")
  }

  /** group_vehicles (functions.py:208-231): vehicle type → RU label via a
    * 10-entry broadcast map (absent keys pass through), then
    * group-collect of (name, quantity) — the reference's driver-side
    * dict loop as a distributed agg (SURVEY §2 J5+A5). */
  private val typeLabels: Column = typedlit(Map(
    "static-mortar" -> "Миномет",
    "static-weapon" -> "Стационарное",
    "apc" -> "БМП/БТР",
    "car" -> "Автомобиль",
    "tank" -> "Танк",
    "truck" -> "Грузовик",
    "parachute" -> "Парашют",
    "plane" -> "Авиация",
    "heli" -> "Вертолет",
    "sea" -> "Флот",
  ))

  def groupVehicles(t: ReplayTables, replay: Int): DataFrame =
    fsVehicles(t, replay)
      .withColumn("type_label",
        coalesce(element_at(typeLabels, col("type")), col("type")))
      .groupBy(col("type_label"))
      .agg(sort_array(collect_list(struct(col("name"), col("count"))))
        .as("vehicles"))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's 8 analytic queries (queries.py:1-74) over the replay
  * tables, as functions over one collected per-replay [[ReplaySlice]].
  *
  * A replay is small (a few hundred players, at most ~800 frags): a
  * DataFrame program per query spends its time planning and scheduling
  * single-task jobs, not on data. So [[slice]] collects the replay's
  * rows in a fixed set of Spark jobs, and every result is computed from
  * those rows on the driver. What grows with the store stays in Spark: the
  * partition-pruned scans, the broadcast `d_players` joins and the
  * survivors anti join over the frags of every replay.
  *
  * Semantics preserved exactly (SURVEY §7.4.2-3):
  *  - survivors' NOT IN subquery scans frags of ALL replays (the
  *    reference quirk) and is null-aware: one NULL victim empties the
  *    result — expressed through spark.sql so Catalyst plans the
  *    null-aware anti join (DataFrame left_anti is not null-aware);
  *  - the leaderboards join `d_players` INNER: a killer that is NULL or
  *    missing from `d_players` is dropped (the slice's `killer_known`);
  *  - ranked LIMIT 5 cuts rows, not ranks, like the reference;
  *  - `ORDER BY distance IS NULL, distance DESC` puts NULL distances
  *    last;
  *  - strings sort in Spark's order (UTF-8 bytes, NULLs first
  *    ascending), not Java's UTF-16 `compareTo`.
  *
  * Ties, which the reference leaves unspecified, resolve
  * deterministically: inside a leaderboard rank by killer id ascending
  * (so LIMIT 5 keeps the lowest ids of a rank it cuts), grouped vehicles
  * by `type_label` ascending, survivors per side by label ascending on
  * equal counts; fb/lh/ls take the first tied frag in scan order, as
  * Spark's `orderBy(..).limit(1)` does over one partition.
  *
  * `d_players` is unique on `id_from_json` (create_tables.sql; the
  * store's upsert keeps it so). `time` is "HH:mm:ss" strings, which
  * order lexicographically exactly like PG `time` (Schemas.scala).
  *
  * The DataFrame spellings these functions replaced serve as the test
  * oracle (`ReplayQueriesOracle`); the Spark-native forms of the same
  * operators stay pinned by the driver queries q02–q08, q15, q17, q18.
  */
case class ReplayTables(
    replayMain: DataFrame,
    vehicles: DataFrame,
    players: DataFrame,
    dPlayers: DataFrame,
    frags: DataFrame)

/** One replay's rows, as collected by [[ReplayQueries.slice]]:
  *  - `vehicles`: (name, type);
  *  - `frags`: the fs_fb/fs_lh/fs_ls columns, killer and victim
  *    nicknames resolved through left joins, then `killer_known`
  *    (the killer matched a `d_players` row);
  *  - `survivors`: the fs_survivors result itself. */
final case class ReplaySlice(vehicles: Seq[Row], frags: Seq[Row], survivors: Seq[Row])

/** One query's result: rows in Spark's external form plus their schema. */
final case class SliceResult(schema: StructType, rows: Seq[Row])

object ReplayQueries {

  /** The slice, in three collected queries (plus their broadcasts). */
  def slice(t: ReplayTables, replay: Int): ReplaySlice = {
    val vehicles = t.vehicles
      .filter(col("replay_number") === replay)
      .select(col("name"), col("type"))
    ReplaySlice(
      vehicles.collect().toSeq,
      fragsNamed(t, replay).collect().toSeq,
      survivors(t, replay).collect().toSeq)
  }

  /** Frags with killer and victim nicknames resolved via two left joins
    * against the same broadcast dimension (queries.py:29-53). */
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
        f("gun"),
        col("dp.id_from_json").isNotNull.as("killer_known"))
  }

  /** Players never seen as a victim (queries.py:56-59). The subquery
    * deliberately scans frags of ALL replays, and NOT IN is null-aware
    * (a NULL victim empties the result) — both reference quirks kept by
    * running the query as SQL. */
  private def survivors(t: ReplayTables, replay: Int): DataFrame = {
    t.players.createOrReplaceTempView("graft_players")
    t.dPlayers.createOrReplaceTempView("graft_d_players")
    t.frags.createOrReplaceTempView("graft_frags")
    t.players.sparkSession.sql(
      s"""SELECT p.id_from_json, dp.nickname, side
          FROM graft_players p
          JOIN graft_d_players dp ON p.id_from_json = dp.id_from_json
          WHERE p.id_from_json NOT IN (SELECT victim FROM graft_frags f)
            AND p.replay_number = $replay""")
  }

  /** Spark's ascending string order: UTF-8 bytes, which is code point
    * order; `None` (NULL) first. */
  private val utf8: Ordering[String] =
    (a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  private val sparkString: Ordering[Option[String]] = Ordering.Option(utf8)

  private def str(r: Row, c: String): Option[String] = Option(r.getAs[String](c))
  private def int(r: Row, c: String): Option[Int] = Option(r.getAs[Integer](c)).map(_.toInt)

  private def fields(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** (name, type) → count, ordered by type, name. */
  private def vehicleCounts(s: ReplaySlice): Seq[((Option[String], Option[String]), Long)] =
    s.vehicles
      .groupMapReduce(v => (str(v, "name"), str(v, "type")))(_ => 1L)(_ + _)
      .toSeq
      .sortBy { case ((name, kind), _) => (kind, name) }(Ordering.Tuple2(sparkString, sparkString))

  /** fs_vehicles (queries.py:4-8): vehicle roster with counts. */
  def fsVehicles(s: ReplaySlice): SliceResult = SliceResult(
    fields("name" -> StringType, "type" -> StringType, "count" -> LongType),
    vehicleCounts(s).map { case ((name, kind), n) => Row(name.orNull, kind.orNull, n) })

  private val leaderboardSchema =
    fields("killer" -> IntegerType, "nickname" -> StringType, "count" -> LongType,
      "rank" -> IntegerType)

  /** Kills per known killer, dense-ranked over the top-5 distinct
    * counts; LIMIT 5 rows, killer id ascending inside a rank. */
  private def leaderboard(s: ReplaySlice, tk: Boolean): SliceResult = {
    val counts = s.frags
      .filter(f => f.getAs[Boolean]("killer_known") && f.getAs[Any]("is_tk") == tk)
      .groupMapReduce(f => (f.getAs[Int]("killer"), str(f, "killer_nickname")))(_ => 1L)(_ + _)
    val rank = counts.values.toSeq.distinct.sorted(Ordering[Long].reverse).take(5)
      .zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val rows = counts.toSeq
      .flatMap { case ((killer, nick), n) => rank.get(n).map(r => (r, killer, nick, n)) }
      .sortBy { case (r, killer, nick, _) => (r, killer, nick) }(
        Ordering.Tuple3(Ordering.Int, Ordering.Int, sparkString))
      .take(5)
      .map { case (r, killer, nick, n) => Row(killer, nick.orNull, n, r) }
    SliceResult(leaderboardSchema, rows)
  }

  /** fs_cutlets (queries.py:11-17): top-5 killers, dense-ranked. */
  def fsCutlets(s: ReplaySlice): SliceResult = leaderboard(s, tk = false)

  /** fs_tks (queries.py:20-26): top-5 teamkillers. */
  def fsTks(s: ReplaySlice): SliceResult = leaderboard(s, tk = true)

  private val fragSchema = fields(
    "time" -> StringType, "killer" -> IntegerType, "victim" -> IntegerType,
    "killer_nickname" -> StringType, "victim_nickname" -> StringType,
    "killer_vehicle" -> StringType, "victim_vehicle" -> StringType,
    "distance" -> IntegerType, "is_tk" -> BooleanType, "gun" -> StringType)

  /** The first frag under `ord`; a stable sort keeps the first tied frag
    * in scan order. */
  private def firstFrag[K](s: ReplaySlice, key: Row => K)(ord: Ordering[K]): SliceResult =
    SliceResult(fragSchema, s.frags.sortBy(key)(ord).take(1)
      .map(f => Row.fromSeq(fragSchema.fieldNames.toSeq.map(f.getAs[Any]))))

  /** fs_fb (queries.py:29-35): first blood. */
  def fsFb(s: ReplaySlice): SliceResult = firstFrag(s, str(_, "time"))(sparkString)

  /** fs_lh (queries.py:38-44): last hit (`time DESC`, NULLs last). */
  def fsLh(s: ReplaySlice): SliceResult = firstFrag(s, str(_, "time"))(sparkString.reverse)

  /** fs_ls (queries.py:47-53): farthest kill, NULL distances last. */
  def fsLs(s: ReplaySlice): SliceResult =
    firstFrag(s, int(_, "distance"))(Ordering.Option[Int].reverse)

  /** fs_survivors (queries.py:56-59): players never seen as a victim in
    * any replay — the slice holds the result as Spark returned it. */
  def fsSurvivors(s: ReplaySlice): SliceResult = SliceResult(
    fields("id_from_json" -> IntegerType, "nickname" -> StringType, "side" -> IntegerType),
    s.survivors)

  private val sideLabels = Map(
    1 -> ":red_square: EAST",
    2 -> ":blue_square: WEST",
    3 -> ":green_square: GUER",
    4 -> ":purple_square: CIV")

  /** fs_survivors_group (queries.py:62-74): survivors per side with the
    * emoji CASE decode, count descending, label ascending on ties.
    * `GROUP BY side` resolves to the INPUT column (PG and Spark agree),
    * so grouping is on the raw side int and two unlabelled sides stay
    * two rows. */
  def fsSurvivorsGroup(s: ReplaySlice): SliceResult = SliceResult(
    fields("side" -> StringType, "count" -> LongType),
    s.survivors.groupMapReduce(int(_, "side"))(_ => 1L)(_ + _).toSeq
      .map { case (side, n) => (side.flatMap(sideLabels.get), n) }
      .sortBy { case (label, n) => (-n, label) }(Ordering.Tuple2(Ordering.Long, sparkString))
      .map { case (label, n) => Row(label.orNull, n) })

  /** Vehicle type → RU label (functions.py:211-222). */
  private val typeLabels = Map(
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
  )

  private val nameCount = fields("name" -> StringType, "count" -> LongType)

  /** group_vehicles (functions.py:208-231): vehicle type → RU label
    * (absent keys pass through), then the (name, quantity) pairs per
    * label, sorted, labels ascending — the reference's driver-side dict
    * loop (SURVEY §2 J5+A5). */
  def groupVehicles(s: ReplaySlice): SliceResult = SliceResult(
    fields("type_label" -> StringType, "vehicles" -> ArrayType(nameCount)),
    vehicleCounts(s)
      .groupMap { case ((_, kind), _) => kind.map(k => typeLabels.getOrElse(k, k)) } {
        case ((name, _), n) => (name, n)
      }
      .toSeq
      .sortBy(_._1)(sparkString)
      .map { case (label, vs) =>
        Row(label.orNull, vs.sorted(Ordering.Tuple2(sparkString, Ordering.Long))
          .map { case (name, n) => Row(name.orNull, n) })
      })
}

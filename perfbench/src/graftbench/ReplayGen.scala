package graftbench

import scala.collection.mutable
import scala.util.Random

/** Facts about one generated replay that the stored message must show.
  * `survivors` is the count the null-aware `NOT IN` over the frags of
  * every replay stored so far must return. */
case class Truth(
    frags: Int,
    topKillerCount: Int,
    topKillerNicks: Map[Int, String],
    firstBlood: String,
    lastHit: String,
    farthest: Option[Int],
    survivors: Int)

/** One replay as the stats site serves it: the listing page that
  * announces it, its HTML page and its JSON document. */
case class GenReplay(id: Int, listing: String, html: String, json: String, truth: Truth) {
  def inputBytes: Long =
    Seq(listing, html, json).map(_.getBytes("UTF-8").length.toLong).sum
}

/** Seeded generator of replay pages in the shapes `ReplayHtml` and
  * `ReplayJson` parse (see src/test/resources for the hand-written
  * originals).
  *
  * Every replay draws its players from one shared id pool, so the
  * `d_players` upsert meets ids it has stored before, and a nickname
  * changes between replays often enough that last-write-wins matters.
  * Some nicknames carry quotes (the ingest strips them), some killers
  * and distances are JSON null; victims never are, so the survivors
  * `NOT IN` keeps returning rows. Ground truth is tracked per store:
  * one generator feeds one fresh `TableStore`.
  *
  * Sizes are stratified in blocks of `block` replays: within a block the
  * player, frag and vehicle counts each take every one of `block` evenly
  * spaced points of their range once, in a seeded order. Any run of whole
  * blocks therefore does the same amount of work whatever the seed; the
  * seed sets which replay gets which size and everything else.
  */
class ReplayGen(seed: Long, block: Int) {
  require(block > 0, "block must be positive")
  private val firstId = 100000
  private val poolSize = 3000
  private val rnd = new Random(seed)
  private var nextId = firstId
  private var step = 0
  // (id, players) of listed replays; the older ones were never stored, so
  // the cold-start watermark (the second listed game) sits below firstId
  private val history = mutable.ArrayBuffer.tabulate(8)(k => (firstId - 16 + 2 * k, 150))
  private val deadSoFar = mutable.HashSet.empty[Int]
  private var sizes = Iterator.empty[(Int, Int, Int)]

  /** The next (players, frags, vehicles), one block of strata at a time. */
  private def nextSizes(): (Int, Int, Int) = {
    if (!sizes.hasNext) {
      def strata(lo: Int, hi: Int) =
        rnd.shuffle((0 until block).map(k => lo + ((hi - lo + 1) * (2 * k + 1)) / (2 * block)))
      sizes = strata(100, 300).lazyZip(strata(50, 800)).lazyZip(strata(10, 40)).toList.iterator
    }
    sizes.next()
  }

  private val sides = Seq(1 -> "EAST", 2 -> "WEST", 3 -> "GUER", 4 -> "CIV")
  private val vehicleTypes = Seq("static-mortar", "static-weapon", "apc", "car",
    "tank", "truck", "parachute", "plane", "heli", "sea", "drone")
  private val vehicleNames = Seq("T-72", "T-80", "BMP-2", "UAZ \"open\"", "Ural",
    "Mi-8", "Su-25", "M2 'Ma Deuce'", "2B14", "Boat", "Humvee", "Bradley")
  private val guns = Seq("AK-74", "M4A1", "PKM", "SVD", "RPG-7", "mine", "")
  private val islands = Seq("Алтис &quot;тест&quot;", "Чернарусь", "Takistan",
    "Malden &amp; co")

  private def nickname(id: Int): String = {
    val base = s"Player$id"
    rnd.nextInt(20) match {
      case 0 => s"O'$base"
      case 1 => s"\"Ace\" $base"
      case 2 | 3 | 4 => s"${base}_r$step" // renamed since the last replay
      case _ => base
    }
  }

  private def strip(s: String) = s.replace("'", "").replace("\"", "")

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def hms(epoch: Long): String = {
    val s = epoch % 86400
    f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  }

  def next(): GenReplay = {
    step += 1
    val id = nextId
    nextId += 1 + rnd.nextInt(3)

    val (nPlayers, nFrags, nVehicles) = nextSizes()
    val nSides = 2 + rnd.nextInt(2)

    val ids = rnd.shuffle((1 to poolSize).toVector).take(nPlayers)
    val side = ids.map(i => i -> (1 + rnd.nextInt(nSides))).toMap
    val nick = ids.map(i => i -> nickname(i)).toMap

    val dayStart = 1700006400L + 86400L * (step % 300) // a UTC midnight
    val start = dayStart + 10 * 3600 + rnd.nextInt(3600)
    val duration = 3600 + rnd.nextInt(3600)

    // frags grouped by epoch second; a victim appears once per second
    val dead = mutable.TreeMap.empty[Long, mutable.LinkedHashMap[Int, String]]
    case class Frag(t: Long, victim: Int, killer: Option[Int], dist: Option[Int], tk: Boolean)
    val frags = mutable.ArrayBuffer.empty[Frag]
    while (frags.size < nFrags) {
      val t = start + rnd.nextInt(duration)
      val victim = ids(rnd.nextInt(nPlayers))
      val inner = dead.getOrElseUpdate(t, mutable.LinkedHashMap.empty)
      if (!inner.contains(victim)) {
        val killer =
          if (rnd.nextInt(12) == 0) None
          else Some(Iterator.continually(ids(rnd.nextInt(nPlayers))).find(_ != victim).get)
        val tk = killer.isDefined && rnd.nextInt(10) == 0
        val dist = if (rnd.nextInt(10) == 0) None else Some(1 + rnd.nextInt(1500))
        val leaf = Seq(
          jstr(s"veh${rnd.nextInt(nVehicles) + 1}"),
          killer.fold("null")(_.toString),
          jstr(s"veh${rnd.nextInt(nVehicles) + 1}"),
          jstr(guns(rnd.nextInt(guns.size))),
          dist.fold("null")(_.toString),
          if (tk) "1" else "0").mkString("[", ", ", "]")
        inner(victim) = leaf
        frags += Frag(t, victim, killer, dist, tk)
      }
    }

    val sideCount = ids.groupBy(side).map { case (s, v) => s -> v.size }
    val json = new StringBuilder
    json ++= "{\"factions\": {"
    json ++= sideCount.toSeq.sorted.map { case (s, c) => s"\"$s\": [0, 0, $c]" }.mkString(", ")
    json ++= "},\n \"vehiclesUnits\": {"
    json ++= (1 to nVehicles).map { v =>
      s"\"${1000 + v}\": [${jstr(vehicleTypes(rnd.nextInt(vehicleTypes.size)))}, " +
        s"${jstr(vehicleNames(rnd.nextInt(vehicleNames.size)))}]"
    }.mkString(", ")
    json ++= "},\n \"players\": {"
    json ++= ids.map { i =>
      s"\"$i\": [\"${side(i)}\", ${jstr(nick(i))}, \"slot${rnd.nextInt(60)}\", \"sq${rnd.nextInt(12)}\"]"
    }.mkString(", ")
    json ++= "},\n \"playersDead\": {"
    json ++= dead.map { case (t, inner) =>
      s"\"$t\": {" + inner.map { case (v, leaf) => s"\"$v\": $leaf" }.mkString(", ") + "}"
    }.mkString(",\n   ")
    json ++= "}}"

    val presentSides = sides.filter { case (s, _) => sideCount.contains(s) }
    val commanders = presentSides.map { case (s, name) =>
      val cmdr = ids.find(side(_) == s).get
      s"""\t<tr><th>Командир стороны <span style="color: #aa0000">$name</span></th><td><div class="position-relative" data-toggle="current"><a href="/projects/wog-a3/players/$cmdr/">${strip(nick(cmdr))}</a></div></td></tr>"""
    }.mkString("\n")
    val slots = nPlayers + rnd.nextInt(40)
    val date = java.time.LocalDate.ofEpochDay(dayStart / 86400)
      .format(java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy"))
    val html =
      s"""<html>
<head>
	<title>Реплей №$id от $date / WOG Stats</title>
</head>
<body>
<h1><a href="/missions/${rnd.nextInt(500)}/">Operation ${rnd.alphanumeric.take(6).mkString}</a></h1>
<table>
	<tr><th>Остров</th><td>${islands(rnd.nextInt(islands.size))}</td></tr>
$commanders
	<tr><th>Сторона-победитель</th><td><span style="color: #aa0000">${presentSides(rnd.nextInt(presentSides.size))._2}</span></td></tr>
	<tr><th>Количество игроков / слотов</th><td>$nPlayers / $slots</td></tr>
	<tr><th>Дата и время старта миссии</th><td>суббота, ${hms(start)}</td></tr>
	<tr><th>Дата и время окончания миссии</th><td>суббота, ${hms(start + duration)}</td></tr>
	<tr><th>Длительность миссии</th><td>${hms(duration)}</td></tr>
</table>
</body>
</html>
"""

    // newest first, with small games (<100 players) the discovery filter drops
    history += ((id, nPlayers))
    val listed = history.takeRight(8).reverse.flatMap { case (i, p) =>
      Seq(i -> p, (i * 10 + 7) -> (20 + rnd.nextInt(79)))
    }
    val listing = listed.map { case (i, p) =>
      s"""\t<tr><td><a href="/games/$i/">Replay $i</a></td><td>$p / ${p + 20}</td></tr>"""
    }.mkString("<html>\n<body>\n<table>\n", "\n", "\n</table>\n</body>\n</html>\n")

    frags.foreach(f => deadSoFar += f.victim)
    val kills = frags.filter(f => !f.tk && f.killer.isDefined).groupBy(_.killer.get)
      .map { case (k, v) => k -> v.size }
    val top = if (kills.isEmpty) 0 else kills.values.max
    val truth = Truth(
      frags = frags.size,
      topKillerCount = top,
      topKillerNicks = kills.collect { case (k, c) if c == top => k -> strip(nick(k)) },
      firstBlood = hms(frags.map(_.t).min),
      lastHit = hms(frags.map(_.t).max),
      farthest = frags.flatMap(_.dist).maxOption,
      survivors = ids.count(i => !deadSoFar.contains(i)))
    GenReplay(id, listing, html, json.toString, truth)
  }
}

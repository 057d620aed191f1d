package graft

import graft.message.{MessageBuilder, Renderer}
import graft.ingest.ReplayJson
import graft.pipeline.ReplayPipeline
import graft.store.TableStore

/** Message rendering over the fixture replay's text_data document
  * (F16/F17): the reference bot's text + embeds, branch-by-branch.
  */
class RendererSpec extends SparkSpec {

  private lazy val textData: String = {
    val store = new TableStore(spark, tempDir("rend"))
    val p = new ReplayPipeline(spark, store)
    p.ingest(500, SparkSpec.resource("replay.html"), SparkSpec.resource("replay-data.json"))
    p.createMessage(500)
    p.nextUnposted().get._2
  }

  test("create_text: header, sides, truncated times, winner, quote strip") {
    val text = Renderer.createText(textData)
    assert(text.startsWith("Доступен новый реплей!"))
    assert(text.contains("Миссия: Operation Alpha, Алтис тест, 2024-03-15"))
    // [:-3] second-truncation
    assert(text.contains("Начало 18:05, конец 19:35, длительность 01:30:40, 101/120"))
    // empty GUER/CIV sides dropped
    assert(text.contains(":red_square: EAST: 52, командир - CmdrEast"))
    assert(text.contains(":blue_square: WEST: 49, командир - CmdrWest"))
    assert(!text.contains("GUER: 0"))
    assert(text.contains("Победитель: EAST"))
    // all quotes stripped (reference create_text final replace)
    assert(!text.contains("'") && !text.contains("\""))
  }

  test("create_text: kill sentences incl. unknown-killer branch") {
    val text = Renderer.createText(textData)
    assert(text.contains(
      "Первый фраг произошел в 22:13:20. Жертвой стал **Bravo**, " +
        "погибший от выстрела **Alpha** с расстояния 350 м. Орудие убийства - AK."))
    // null killer → unknown-killer sentence (bot/botrun.py:125-128)
    assert(text.contains(
      "Последний фраг произошел в 22:16:40. Жертвой стал **Delta**. Убийца неизвестен."))
    assert(text.contains("Самый дальний фраг произошел в 22:13:20."))
  }

  test("teamkill branch renders the tk leaderboard") {
    val text = Renderer.createText(textData)
    // fixture has one teamkill, so not the 'no teamkills' line
    assert(!text.contains("Удивительно"))
    assert(text.contains("Alpha **1**".replace("*", "")) || text.contains("Alpha **1**"))
  }

  test("embeds: 5 embeds with the reference structure") {
    val embeds = Renderer.createEmbeds(textData)
    assert(embeds.size == 5)
    assert(embeds(0).title.contains("Общая статистика"))
    assert(embeds(0).fields.exists { case (n, v) =>
      n == "Итоги" && v.contains(":red_square: **EAST**") })
    assert(embeds(1).fields.exists { case (n, v) =>
      n == "Лучшие кибератлеты" && v.contains("Alpha **1**") })
    assert(embeds(2).fields.exists { case (n, v) =>
      n == "Последний фраг" && v.contains("Убийца неизвестен") })
    // vehicles grouped by RU label, count-x-name lines
    assert(embeds(3).fields.exists { case (n, v) =>
      n == "Танк" && v == "1xT-72\n1xT-80" })
    // link embed is description-only (no title, no fields)
    assert(embeds(4).color == 0x0099ff && embeds(4).fields.isEmpty)
    assert(embeds(4).description.startsWith(
      "С полным реплеем и статистикой миссии можно ознакомиться"))
    assert(embeds(4).description.endsWith("/")) // reference's trailing slash
  }
}

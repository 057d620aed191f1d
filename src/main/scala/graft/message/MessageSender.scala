package graft.message

import scala.annotation.unused

/** K7 delivery transport seam (bot/botrun.py:306: the Discord webhook
  * POST). The engine builds and renders messages branch-exact; the
  * committed live transport is [[HttpMessageSender]] (a JDK-17
  * HttpClient webhook POST, spec-driven against an in-process stub —
  * the sandbox has no egress), and this trait is the seam that keeps
  * pipeline and streaming code transport-agnostic.
  *
  * Contract: `send` must either deliver or throw. The caller flags the
  * message `posted` only AFTER `send` returns, so delivery is
  * at-least-once under crash replay — a crash between send and flag
  * re-sends on recovery; a message is never flagged unsent (the same
  * ordering the reference's bot loop uses, botrun.py:306-309).
  */
trait MessageSender {
  def send(replayNumber: Int, message: String): Unit

  /** Content + embeds in ONE delivery — the reference's replay send
    * carries the fixed envelope string and five embeds in the same
    * call (bot/botrun.py:307). Default collapses to the content-only
    * form so content-only doubles keep working; wire transports
    * override to put the embeds array in the same POST body. Same
    * deliver-or-throw contract as [[send]]. */
  def sendWithEmbeds(replayNumber: Int, content: String,
      @unused embeds: Seq[Renderer.Embed]): Unit =
    send(replayNumber, content)
}

object MessageSender {
  /** Build-only mode: messages accumulate unposted (the pre-bot half
    * of the reference, where Airflow writes and the bot drains later). */
  val none: Option[MessageSender] = None
}

/** File-backed test double: one line per delivery,
  * `<replay>\t<message>` with the message newline-escaped (\r too —
  * readAllLines treats a bare CR as a terminator, and CRLF fragments
  * can survive from parsed replay HTML) — the spec reads it back to
  * assert exactly-once-per-posted-flag behavior. */
class FileMessageSender(path: String) extends MessageSender with Serializable {
  private def append(line: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path), line.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

  def send(replayNumber: Int, message: String): Unit =
    append(replayNumber + "\t" +
      message.replace("\\", "\\\\").replace("\r", "\\r")
        .replace("\n", "\\n") + "\n")

  /** Records the exact wire payload (the webhook JSON with content +
    * embeds array, Jackson-escaped so it is one line by construction) —
    * replay tests read it back to assert what a live transport would
    * have POSTed. */
  override def sendWithEmbeds(replayNumber: Int, content: String,
      embeds: Seq[Renderer.Embed]): Unit =
    append(replayNumber + "\t" +
      HttpMessageSender.payloadJson(content, embeds) + "\n")
}

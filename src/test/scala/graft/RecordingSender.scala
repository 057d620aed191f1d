package graft

import graft.message.{HttpMessageSender, MessageSender, Renderer}

/** In-memory delivery double: keeps each send as (replay, wire payload)
  * in send order, where the payload of an embeds send is the webhook
  * JSON a live transport would POST (content + embeds array). Safe to
  * read from the test thread while a streaming query delivers. */
class RecordingSender extends MessageSender with Serializable {
  private val sent = scala.collection.mutable.ArrayBuffer[(Int, String)]()

  def send(replayNumber: Int, message: String): Unit =
    synchronized { sent += ((replayNumber, message)) }

  override def sendWithEmbeds(replayNumber: Int, content: String,
      embeds: Seq[Renderer.Embed]): Unit =
    send(replayNumber, HttpMessageSender.payloadJson(content, embeds))

  def replays: Seq[Int] = synchronized { sent.map(_._1).toSeq }

  def payloads: Seq[String] = synchronized { sent.map(_._2).toSeq }
}

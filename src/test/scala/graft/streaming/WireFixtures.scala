package graft.streaming

/** Shared wire-envelope fixtures. Rows are built BY FIELD NAME against
  * `EventSchemas` — adding or reordering an envelope field breaks this
  * one builder loudly instead of silently corrupting the positional
  * copies that used to live in five suites. */
object WireFixtures {

  /** One fully-populated login_events envelope row (field order = the
    * live schema's). */
  def loginMsg(id: String, user: String, ts: Long): Seq[Any] = {
    val values: Map[String, Any] = Map(
      "event_id" -> id, "event_name" -> "login", "user_id" -> user,
      "session_id" -> "s-1", "anonymous_id" -> "a-1", "timestamp" -> ts,
      "service_origin" -> "web", "platform" -> "android",
      "platform_version" -> "14", "os_name" -> "android",
      "os_version" -> "14", "browser_name" -> "chrome",
      "browser_version" -> "128", "device_type" -> "mobile",
      "screen_resolution" -> "1080x2400", "user_agent" -> "UA")
    val schema = EventSchemas.tables("login_events")
    schema.fieldNames.toSeq.map(n => values.getOrElse(n,
      throw new IllegalStateException(
        s"WireFixtures.loginMsg has no value for new envelope field '$n'")))
  }
}

/** Wire-file writer for fixtures: length-delimited frames, the layout
  * the graft-proto source reads and the spool relay writes. */
object ProtoFiles {
  def writeLocal(file: String, rows: Iterator[Seq[Any]],
                 schema: org.apache.spark.sql.types.StructType): Unit = {
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file), 64 * 1024)
    try rows.foreach(r => ProtoWire.writeFrame(out, ProtoWire.encode(r, schema)))
    finally out.close()
  }
}

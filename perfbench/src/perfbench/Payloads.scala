package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Seeded Weatherstack payload generator and landing step for the
  * pipeline workloads. Payloads follow `WeatherPipeline.payloadSchema`
  * and are landed as JSON lines `{city, raw_json}` (the landing shape of
  * `WeatherPipeline.startStream`), so the timed batch only ever reads
  * landed files.
  *
  * The mix: ~1/9 API error envelopes; ~1/11 malformed JSON, half of it as
  * landing records cut short (which the source layer's permissive read
  * routes out) and half as a cut-short `raw_json` string inside a
  * well-formed record; and ~1/13 of the well-formed payloads with a
  * temperature outside the staging model's -50..60 plausibility range.
  * City names are unique within a day. The generator decides every
  * payload's fate itself, so the expected layer counts come out of the
  * same loop without touching the engine.
  *
  * A malformed `raw_json` string is not routed out by
  * `WeatherPipeline.ingest`: `from_json` returns a struct of nulls rather
  * than null for it, so it passes the `j.isNotNull && j.error.isNull`
  * guard and lands a row with a null temperature in `raw/weather`, which
  * only staging drops. The expected counts record this behaviour as it
  * is; an ingest that routes such payloads out changes `routed` and `raw`
  * here.
  */
object Payloads {

  /** Closed-form layer counts of one landed day: `routed` are malformed
    * landing records (dropped by the source read) plus error envelopes
    * (dropped by ingest), `filtered` are raw rows that staging drops
    * (temperatures outside the plausibility range and the null rows of
    * malformed payload strings), `kept` reach the marts. */
  final case class Expected(rowsIn: Long, routed: Long, filtered: Long, kept: Long) {
    def raw: Long = rowsIn - routed
  }

  private val descs = Array("sunny spells", "light rain", "Partly cloudy",
    "cloudy sky", "mist", "Heavy rain shower", "Clear")
  private val dirs = Array("N", "NE", "E", "SE", "S", "SW", "W", "NW")

  /** Land `n` payloads of `day` under `dir` (one JSON-lines file). */
  def land(dir: File, seed: Long, day: Int, n: Int): Expected = {
    dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed * 1000003L + day)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, "part-00000.json")), StandardCharsets.UTF_8), 1 << 16)
    var routed, filtered, kept = 0L
    try {
      var i = 0
      while (i < n) {
        val city = f"City $day%03d-$i%07d"
        val u = rnd.nextDouble()
        val raw =
          if (u < 1.0 / 9) { routed += 1; """{"error":{"code":615,"info":"request failed"}}""" }
          else if (u < 1.0 / 9 + 1.0 / 22) { routed += 1; null }
          else if (u < 1.0 / 9 + 1.0 / 11) { filtered += 1; s"""{"location":{"name":"$city",""" }
          else {
            val temp =
              if (rnd.nextInt(13) == 0) {
                filtered += 1
                if (rnd.nextBoolean()) -55 + rnd.nextInt(5) else 61 + rnd.nextInt(4)
              } else { kept += 1; -50 + rnd.nextInt(111) }
            val hh = 1 + rnd.nextInt(12)
            val mm = rnd.nextInt(60)
            val ampm = if (rnd.nextBoolean()) "AM" else "PM"
            s"""{"location":{"name":"$city","country":"Country ${rnd.nextInt(40)}"},""" +
              s""""current":{"temperature":$temp,"weather_descriptions":["${descs(rnd.nextInt(descs.length))}"],""" +
              s""""humidity":${rnd.nextInt(101)},"wind_speed":${rnd.nextInt(40)},""" +
              s""""wind_dir":"${dirs(rnd.nextInt(dirs.length))}","pressure":${980 + rnd.nextInt(60)},""" +
              s""""visibility":${rnd.nextInt(16)},"uv_index":${rnd.nextInt(12)},""" +
              f""""observation_time":"$hh%02d:$mm%02d $ampm"}}"""
          }
        w.write("{\"city\":\"")
        w.write(city)
        if (raw == null) w.write("\",\"raw_json\":\"{\\\"location\n")
        else {
          w.write("\",\"raw_json\":\"")
          w.write(raw.replace("\\", "\\\\").replace("\"", "\\\""))
          w.write("\"}\n")
        }
        i += 1
      }
    } finally w.close()
    Expected(n.toLong, routed, filtered, kept)
  }
}

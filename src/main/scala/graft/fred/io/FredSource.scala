package graft.fred.io

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** G1 — the FRED `series/observations` REST source.
  *
  * An API that returns at most thousands of rows per call must not be a
  * distributed scan: fetch and parse on the driver, hand Spark a local
  * relation (`extract_fred_data.py:94-139`). The trait lets tests inject fixture
  * JSON; `HttpFredSource` is the real client with the reference's retry
  * posture (3 retries, backoff, honor 429; `extract_fred_data.py:74-77,
  * 105-110`).
  */
trait FredSource {
  /** One calendar month of observations as raw FRED response JSON. */
  def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String
}

object FredSource {

  /** C8 — split an inclusive [start, end] range into calendar-month
    * (first, last) pairs (`extract_fred_data.py:22-51`). Driver-side:
    * it parameterizes ingest, not data. */
  def monthRanges(start: LocalDate, end: LocalDate): Seq[(LocalDate, LocalDate)] = {
    Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
      .takeWhile(!_.isAfter(end))
      .map { first =>
        val last = first.plusMonths(1).minusDays(1)
        (if (first.isBefore(start)) start else first,
         if (last.isAfter(end)) end else last)
      }
      .toSeq
  }

  /** Parse raw FRED responses into one `(date, value)` string frame.
    *
    * Parsing happens on the driver with Jackson's streaming parser and
    * the rows become a local relation, so building the frame runs no
    * Spark job (no schema-inference read). Each response is validated
    * like `extract_fred_data.py:116-136`: an `observations` array must
    * be present and non-empty, and every element must carry `date` and
    * `value`. A JSON `null` stays null (the silver cast drops it); a
    * number or boolean keeps its JSON text. Other response fields
    * (`realtime_*`, `units`, …) are not kept. */
  def observations(spark: SparkSession, responses: Seq[String]): DataFrame = {
    val rows = responses.flatMap(parseObservations).map { case (d, v) => Row(d, v) }
    spark.createDataFrame(rows.asJava, ObservationSchema)
  }

  /** One raw FRED response as a `(date, value)` frame; see the `Seq`
    * overload. */
  def observations(spark: SparkSession, responseJson: String): DataFrame =
    observations(spark, Seq(responseJson))

  private val ObservationSchema = StructType(Seq(
    StructField("date", StringType), StructField("value", StringType)))
  private val Json = new JsonFactory()

  /** The `(date, value)` pairs of one response, in response order. */
  private def parseObservations(responseJson: String): Seq[(String, String)] = {
    val p = Json.createParser(responseJson)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        "FRED response is not a JSON object")
      var obs: Option[Seq[(String, String)]] = None
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val field = p.currentName()
        p.nextToken()
        if (field == "observations") {
          require(p.currentToken() == JsonToken.START_ARRAY,
            "FRED response 'observations' is not an array")
          obs = Some(readArray(p))
        } else p.skipChildren()
      }
      require(obs.isDefined, "FRED response missing 'observations'")
      require(obs.get.nonEmpty, "FRED response 'observations' is empty")
      obs.get
    } finally p.close()
  }

  private def readArray(p: JsonParser): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (p.nextToken() != JsonToken.END_ARRAY) {
      require(p.currentToken() == JsonToken.START_OBJECT,
        s"FRED observation $i is not a JSON object")
      val fields = scala.collection.mutable.Map.empty[String, String]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val field = p.currentName()
        val t = p.nextToken()
        if (field == "date" || field == "value") {
          require(t.isScalarValue, s"FRED observation $i '$field' is not a scalar")
          fields(field) = if (t == JsonToken.VALUE_NULL) null else p.getText
        } else p.skipChildren()
      }
      Seq("date", "value").foreach(f =>
        require(fields.contains(f), s"FRED observation $i missing '$f'"))
      out += (fields("date") -> fields("value"))
      i += 1
    }
    out.result()
  }

  /** Fixture-backed source for tests. */
  class Fixture(byMonth: Map[(String, Int, Int), String]) extends FredSource {
    def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String =
      byMonth((seriesId, start.getYear, start.getMonthValue))
  }

  /** One HTTP exchange as seen by the retry loop. */
  case class HttpReply(status: Int, retryAfter: Option[String], body: String)

  /** Real HTTP client. Retries 5xx/429 with linear backoff like the
    * reference's `urllib3.Retry(total=3, backoff_factor=1)`, and
    * spaces successive calls by `throttleMillis` — the reference's
    * inter-month politeness sleep (`extract_fred_data.py:284` sleeps
    * 5 s between calls). Kept driver-side; zero-egress environments
    * never construct it. `sleep`/`nowMillis` are injectable so the
    * timing behavior is unit-testable with a fake clock, and
    * [[request]] is overridable to fake the transport.
    */
  class Http(apiKey: String,
      baseUrl: String = "https://api.stlouisfed.org/fred/series/observations",
      maxRetries: Int = 3,
      throttleMillis: Long = 5000L,
      sleep: Long => Unit = Thread.sleep,
      nowMillis: () => Long = () => System.currentTimeMillis()) extends FredSource {
    private lazy val client = java.net.http.HttpClient.newHttpClient()
    private var lastCallAt = Long.MinValue / 2 // first call never throttles

    /** One GET exchange — the only method that touches the network. */
    protected def request(url: String): HttpReply = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      val ra = resp.headers().firstValue("Retry-After")
      HttpReply(resp.statusCode(), if (ra.isPresent) Some(ra.get) else None, resp.body())
    }

    def fetchMonth(seriesId: String, start: LocalDate, end: LocalDate): String = {
      val url = s"$baseUrl?series_id=$seriesId&api_key=$apiKey&file_type=json" +
        s"&observation_start=$start&observation_end=$end"
      var attempt = 0
      var result: Option[String] = None
      while (result.isEmpty) {
        val throttle = lastCallAt + throttleMillis - nowMillis()
        if (throttle > 0) sleep(throttle)
        val resp = request(url)
        lastCallAt = nowMillis()
        resp.status match {
          case 200 => result = Some(resp.body)
          case code if (code == 429 || code >= 500) && attempt < maxRetries =>
            // Retry-After may be delta-seconds OR an HTTP-date
            // (RFC 9110 §10.2.3); a non-integer value falls back to
            // the linear backoff instead of aborting the retry loop
            val waitSec = resp.retryAfter
              .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
              .getOrElse((attempt + 1).toLong)
            sleep(waitSec * 1000L)
            attempt += 1
          case code => sys.error(s"FRED API error $code for $seriesId")
        }
      }
      result.get
    }
  }
}

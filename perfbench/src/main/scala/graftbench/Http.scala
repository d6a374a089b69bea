package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** One HTTP/1.1 connection's worth of client: a load-generator thread
  * owns one, so the number of connections equals the number of client
  * threads. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val uri = URI.create(s"http://127.0.0.1:$port/api/query")

  /** POST a query; returns (status, body, body bytes). */
  def query(json: String): (Int, String, Long) = {
    val req = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(json))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val b = resp.body()
    (resp.statusCode(), new String(b, java.nio.charset.StandardCharsets.UTF_8),
      b.length.toLong)
  }
}

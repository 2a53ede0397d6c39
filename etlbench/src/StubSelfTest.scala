package etlbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.security.MessageDigest

/** The stub's own test: one seed must reproduce the identical script and,
  * over the wire, the identical statuses and payload hashes; another seed
  * must not. Returns the failures it found.
  */
object StubSelfTest {

  private def sha(b: Array[Byte]): String = MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  def run(w: Workload, seed: Long): Seq[String] = {
    val a = new Script(w, seed)
    val b = new Script(w, seed)
    val fingerprint = a.fingerprint
    val served = wire(a)
    val shares = a.faults.values.groupBy(identity).map { case (f, fs) => f -> fs.size }
    val n = a.reportNames.size
    val expectedShares =
      if (!w.faults) Map[Fault, Int](Fault.Clean -> n)
      else Map[Fault, Int](Fault.Generate503Once -> n * 5 / 100, Fault.Download429Once -> n * 2 / 100,
        Fault.Generate503Always -> n / 100, Fault.HeaderOnly -> n / 100)
    Seq(
      if (fingerprint == b.fingerprint) None else Some("one seed gave two scripts"),
      if (fingerprint != new Script(w, seed + 1).fingerprint) None else Some("two seeds gave one script"),
      if (expectedShares.forall { case (f, k) => shares.getOrElse(f, 0) == k }) None
      else Some(s"fault shares $shares differ from $expectedShares"),
      if (served == wire(b)) None else Some("two stubs of one seed served different bytes"),
      if (served.collect { case (_, "download", 200, h) => h }.forall(a.reportNames.map(r => sha(a.payload(r))).contains)) None
      else Some("a served payload is not the script's")).flatten
  }

  /** (report, call, status, body hash) of two attempts of each call, for the
    * first reports and one report of every fault class.
    */
  private def wire(script: Script): Seq[(String, String, Int, String)] = {
    val sample = (script.reportNames.take(2) ++
      script.faults.groupBy(_._2).values.map(_.keys.min)).distinct.sorted
    val stub = new StubServer(script)
    val client = HttpClient.newHttpClient()
    def send(call: String, report: String, req: HttpRequest.Builder) = {
      val resp = client.send(req.header("Authorization", s"Bearer ${script.accessToken}").build(),
        HttpResponse.BodyHandlers.ofByteArray())
      (report, call, resp.statusCode(), sha(resp.body()))
    }
    try for (r <- sample; _ <- 1 to 2; call <- Seq(Script.Generate, Script.Download)) yield call match {
      case Script.Generate =>
        send(call, r, HttpRequest.newBuilder(URI.create(s"${stub.baseUrl}/reports/generate"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"report_name": "$r", "from": "${Script.FromDate}", "to": "${Script.ToDate}"}""")))
      case _ =>
        send(call, r, HttpRequest.newBuilder(URI.create(s"${stub.baseUrl}/reports/download?report_id=${script.reportId(r)}")).GET())
    }
    finally stub.close()
  }
}

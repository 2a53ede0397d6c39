package graft.ingest

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Every [[HttpReportSource]] in a JVM sends through the JVM's one
  * `HttpClient`, including a copy deserialized there (an executor's).
  */
class SharedHttpClientSpec extends AnyFunSuite {

  private def roundTrip[T](x: T): T = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(x)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[T]
  }

  test("two sources and a deserialized copy share one HttpClient") {
    val a = new HttpReportSource("http://127.0.0.1:1")
    val b = new HttpReportSource("http://127.0.0.1:2", "/g", "/d")
    val copy = roundTrip(a)
    assert(copy ne a)
    assert(a.httpClient eq b.httpClient)
    assert(copy.httpClient eq a.httpClient)
    assert(HttpReportSource.sharedClient(30) eq a.httpClient)
  }
}

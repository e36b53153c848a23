package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The plaintext a generated user carries into the program, kept so the
  * benchmark can check what the store holds after encryption. */
final case class User(uuid: String, first: String, last: String,
    email: String, password: String, phone: String, street: String,
    json: String)

/** Seeded generator of randomuser.me-shaped users. User `i` of seed `s` is a
  * pure function of (s, i), so the served batches and the output checks
  * agree on every user's plaintext. */
final class UserGen(seed: Long) {
  private val firsts = Array("Ada", "Alan", "Grace", "Edsger", "Barbara",
    "Donald", "Frances", "John", "Radia", "Ken", "Leslie", "Margaret")
  private val lasts = Array("Lovelace", "Turing", "Hopper", "Dijkstra",
    "Liskov", "Knuth", "Allen", "Backus", "Perlman", "Thompson", "Lamport")
  private val streets = Array("Park Road", "Mill Lane", "Church Street",
    "Station Road", "High Street", "Green Lane")

  private def rng(i: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i * 0x632BE59BD9B4E019L + salt))

  def uuid(i: Long): String = {
    val r = rng(i, 1L)
    new java.util.UUID((r.nextLong() & ~0xF000L) | 0x4000L,
      (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | 0x8000000000000000L).toString
  }

  /** User `i`, optionally carrying another user's uuid (a re-sent key). */
  def user(i: Long, uuidOf: Long = -1L): User = {
    val r = rng(i, 2L)
    val first = firsts(r.nextInt(firsts.length))
    val last = lasts(r.nextInt(lasts.length))
    // mixed case and padding, as the live API returns: the blind index
    // must normalise before hashing
    val email = (if (r.nextBoolean()) " " else "") +
      s"$first.$last$i@Example.com" + (if (r.nextBoolean()) " " else "")
    val password = Iterator.continually(
      "abcdefghijkmnpqrstuvwxyz23456789".charAt(r.nextInt(32)))
      .take(8 + r.nextInt(5)).mkString
    val phone = f"0${r.nextInt(10, 100)}%d-${r.nextInt(100, 1000)}%d-${r.nextInt(1000, 10000)}%d"
    val street = streets(r.nextInt(streets.length))
    val id = uuid(if (uuidOf >= 0) uuidOf else i)
    val json =
      s"""{"name":{"title":"Mx","first":"$first","last":"$last"},""" +
      s""""email":"$email","login":{"uuid":"$id","username":"${first.toLowerCase}${r.nextInt(1000)}",""" +
      s""""password":"$password"},"dob":{"date":"1980-03-04T05:06:07.000Z","age":46},""" +
      s""""registered":{"date":"2015-02-19T08:01:00.000Z","age":11},"phone":"$phone",""" +
      s""""location":{"street":{"number":${r.nextInt(1, 10000)},"name":"$street"},""" +
      s""""city":"Leeds","state":"West Yorkshire","country":"United Kingdom","postcode":"XX1 1XX"}}"""
    User(id, first, last, email, password, phone, street, json)
  }
}

/** Loopback stand-in for the randomuser API: each GET serves a fresh batch of
  * [[UserSource.BatchSize]] users. Per batch, [[UserSource.Resent]] users
  * re-send the uuid of a user served in an earlier batch, so already in the
  * store (the first batch, into an empty store, has new users in their
  * place), and one user repeats an earlier uuid of the same batch, like the
  * fixture's duplicate. */
final class UserSource(gen: UserGen, seed: Long) {
  import UserSource._

  private var nextFresh = 0L
  private val pick = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val history = mutable.ArrayBuffer.empty[Long]
  private val served = mutable.Queue.empty[Seq[User]]
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  private def nextKey(): Long = { nextFresh += 1; nextFresh - 1 }

  def nextBatch(): Seq[User] = synchronized {
    def storedKey(): Long =
      if (history.nonEmpty) history(pick.nextInt(history.size)) else nextKey()
    val news = (0 until BatchSize - Resent - 1).map(_ => nextKey())
    val resent = (0 until Resent).map(_ => gen.user(nextKey(), uuidOf = storedKey()))
    val dup = gen.user(nextKey(), uuidOf = news(pick.nextInt(news.size)))
    val users = news.map(gen.user(_)) ++ resent
    // the duplicate always follows its original, so keep-first keeps the original
    val batch = users :+ dup
    history ++= news
    served.enqueue(batch)
    batch
  }

  /** The batch served by the most recent GET. */
  def takeServed(): Seq[User] = synchronized(served.dequeue())

  server.createContext("/api", (ex: HttpExchange) => {
    val body = nextBatch().map(_.json).mkString("""{"results":[""", ",", "]}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api?results=$BatchSize"
  def stop(): Unit = server.stop(0)
}

object UserSource {
  val BatchSize = 10
  val Resent = 2
}

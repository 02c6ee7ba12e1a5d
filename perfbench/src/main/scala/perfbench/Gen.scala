package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Seeded traffic generator. The gateway sees only the payload text; the
  * expected output of every event is computed here, from the same
  * generated values, without running the gateway.
  *
  * Four webhook shapes, modelled on the reference gateway's pinned
  * examples:
  *  - `nested`: GitHub-shaped payload, dot-path projection, filter
  *    `type = 'push'` (70 % of events pass);
  *  - `array`: a JSON array of 1–4 order lines, one output row per
  *    line (`{"results": [...]}` when there are several);
  *  - `refjoin`: LEFT JOIN to the uploaded `users` reference table;
  *  - `udf`: calls a runtime-registered UDF.
  *
  * Every payload carries a unique string id, and the numeric fields
  * `repository.stars`, `price` and `amount` take both integral and
  * fractional values (`10` and `10.5`), so a schema cache that ignores
  * JSON number kinds produces wrong outputs.
  */
object Gen {
  val mapper = new ObjectMapper()

  val Hooks: Seq[String] = Seq("nested", "array", "refjoin", "udf")

  def path(hook: String): String = s"/bench/$hook"

  /** Users in the uploaded reference table. Two more usernames appear in
    * payloads but not in the table, so the LEFT JOIN yields nulls too.
    */
  val Users: Seq[(String, String, String)] = Seq(
    ("jdoe", "John Doe", "Engineering"),
    ("asmith", "Alice Smith", "Marketing"),
    ("bchen", "Bo Chen", "Finance"),
    ("dlee", "Dana Lee", "Engineering"),
    ("mgarcia", "Maria Garcia", "Sales"),
    ("okim", "Oh Kim", "Support"))
  val Usernames: Seq[String] = Users.map(_._1) ++ Seq("ghost", "nobody")

  def usersCsv: String =
    ("username,full_name,department" +: Users.map { case (u, n, d) =>
      s"$u,$n,$d" }).mkString("\n")

  val UdfName = "extract_domain"
  val UdfCode: String =
    """def extract_domain(email: String): String =
      |  if (email == null || !email.contains("@")) null
      |  else email.split("@").last""".stripMargin

  /** Transform and filter per hook; `refQname` / `udfQname` are the
    * names the gateway assigned at registration.
    */
  def transformQuery(hook: String, refQname: String, udfQname: String)
      : String = hook match {
    case "nested" =>
      "SELECT delivery_id, type, repository.full_name AS repo, " +
        "repository.stars AS stars, sender.login AS actor, size " +
        "FROM {{payload}}"
    case "array" =>
      "SELECT order_id, line, sku, qty * price AS total FROM {{payload}}"
    case "refjoin" =>
      "SELECT e.event_id, e.username, e.action, u.full_name, u.department " +
        s"FROM {{payload}} e LEFT JOIN $refQname u ON e.username = u.username"
    case "udf" =>
      s"SELECT event_id, email, $udfQname(email) AS domain, amount " +
        "FROM {{payload}}"
  }

  def filterQuery(hook: String): Option[String] =
    if (hook == "nested") Some("type = 'push'") else None

  /** One generated event: its unique id, payload text, and the output the
    * gateway must produce (None = filtered out).
    */
  final case class Event(hook: String, key: String, payload: String,
      expected: Option[JsonNode]) {
    def path: String = Gen.path(hook)
  }

  /** A number that is integral or has a .25/.5/.75 fraction — exact in
    * binary, so products compare exactly.
    */
  private def mixedNumber(r: scala.util.Random, max: Int): BigDecimal = {
    val whole = BigDecimal(1 + r.nextInt(max))
    if (r.nextBoolean()) whole else whole + BigDecimal(1 + r.nextInt(3)) / 4
  }

  private def num(b: BigDecimal): String = b.bigDecimal.toPlainString

  private def hex(r: scala.util.Random): String = f"${r.nextInt() & 0xffffff}%06x"

  /** Seeded decks of the variants that set an event's cost: the nested
    * `type` (7 of 10 push, so 70 % pass the filter) and the array's line
    * count (1–4). Drawn without replacement, so every 10 nested and every
    * 4 array events hold the exact mix, and the seed varies only the order.
    */
  final class Decks(r: scala.util.Random) {
    private val sizes = Map("nested" -> 10, "array" -> 4)
    private val left = scala.collection.mutable.Map[String, List[Int]]()
    def draw(hook: String): Option[Int] = sizes.get(hook).map { n =>
      val deck = left.getOrElse(hook, Nil) match {
        case Nil => r.shuffle((0 until n).toList)
        case d => d
      }
      left(hook) = deck.tail
      deck.head
    }
  }

  /** One event; `variant` fixes the nested type / array line count
    * (see [[Decks]]), otherwise it is drawn at random.
    */
  def event(r: scala.util.Random, hook: String, seq: Long,
      variant: Option[Int] = None): Event = {
    val id = s"$seq-${hex(r)}"
    hook match {
      case "nested" =>
        val key = s"gh-$id"
        val t = variant.getOrElse(r.nextInt(10)) match {
          case x if x < 7 => "push"
          case 7 | 8 => "issues"
          case _ => "pull_request"
        }
        val repo = s"org${r.nextInt(5)}/repo${r.nextInt(40)}"
        val stars = mixedNumber(r, 500)
        val actor = s"user${r.nextInt(200)}"
        val size = r.nextInt(20)
        val payload =
          s"""{"delivery_id": "$key", "type": "$t", "repository": {"id": ${r.nextInt(100000)}, "full_name": "$repo", "stars": ${num(stars)}}, "sender": {"login": "$actor", "site_admin": false}, "size": $size}"""
        val out =
          if (t != "push") None
          else Some(obj("delivery_id" -> key, "type" -> t, "repo" -> repo,
            "stars" -> stars, "actor" -> actor, "size" -> BigDecimal(size)))
        Event(hook, key, payload, out)
      case "array" =>
        val key = s"ord-$id"
        val lines = (1 to 1 + variant.getOrElse(r.nextInt(4))).map { i =>
          (i, s"sku-${r.nextInt(300)}", 1 + r.nextInt(5), mixedNumber(r, 60))
        }
        val payload = lines.map { case (i, sku, qty, price) =>
          s"""{"order_id": "$key", "line": $i, "sku": "$sku", "qty": $qty, "price": ${num(price)}}"""
        }.mkString("[", ", ", "]")
        val rows = lines.map { case (i, sku, qty, price) =>
          obj("order_id" -> key, "line" -> BigDecimal(i), "sku" -> sku,
            "total" -> price * qty)
        }
        // one row → the flat row, N rows → {"results": [...]}
        val out: JsonNode =
          if (rows.size == 1) rows.head
          else {
            val arr = mapper.createArrayNode()
            rows.foreach(arr.add(_))
            mapper.createObjectNode().set[ObjectNode]("results", arr)
          }
        Event(hook, key, payload, Some(out))
      case "refjoin" =>
        val key = s"auth-$id"
        val user = Usernames(r.nextInt(Usernames.size))
        val action = Seq("login", "logout", "reset")(r.nextInt(3))
        val payload =
          s"""{"event_id": "$key", "username": "$user", "action": "$action", "ip": "10.0.${r.nextInt(256)}.${r.nextInt(256)}"}"""
        val o = obj("event_id" -> key, "username" -> user, "action" -> action)
        Users.find(_._1 == user).foreach { case (_, n, d) =>
          o.put("full_name", n); o.put("department", d)
        }
        Event(hook, key, payload, Some(o))
      case "udf" =>
        val key = s"sub-$id"
        val domain = s"corp${r.nextInt(30)}.example"
        val email = s"user${r.nextInt(1000)}@$domain"
        val amount = mixedNumber(r, 100)
        val plan = Seq("free", "pro", "team")(r.nextInt(3))
        val payload =
          s"""{"event_id": "$key", "email": "$email", "amount": ${num(amount)}, "plan": "$plan"}"""
        Event(hook, key, payload, Some(obj("event_id" -> key,
          "email" -> email, "domain" -> domain, "amount" -> amount)))
    }
  }

  private def obj(kvs: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.foreach {
      case (k, s: String) => o.put(k, s)
      case (k, b: BigDecimal) => o.put(k, b.bigDecimal)
      case (k, v) => throw new IllegalArgumentException(s"$k: $v")
    }
    o
  }

  /** `counts` events per hook in a seeded random order — the composition
    * is exact (variants from [[Decks]]), only the order and the values
    * vary with the seed.
    */
  def mix(r: scala.util.Random, counts: Seq[(String, Int)],
      firstSeq: Long): Seq[Event] = {
    val decks = new Decks(r)
    val hooks = r.shuffle(counts.flatMap { case (h, n) => Seq.fill(n)(h) })
    hooks.zipWithIndex.map { case (h, i) => event(r, h, firstSeq + i, decks.draw(h)) }
  }

  /** `n` rounds of one event per hook, each round in a seeded order: the
    * composition is balanced at every prefix, so where the heavier
    * hooks fall in a run does not vary with the seed.
    */
  def rounds(r: scala.util.Random, n: Int, firstSeq: Long): Seq[Event] = {
    val decks = new Decks(r)
    (0 until n).flatMap(i => r.shuffle(Hooks)).zipWithIndex.map { case (h, i) =>
      event(r, h, firstSeq + i, decks.draw(h))
    }
  }

  /** A seed-independent warm-up set: from a fixed-seed stream, the first
    * event of each (hook, any fractional number, filtered) variant, so
    * every payload schema the workloads produce has been planned and
    * compiled once before timing starts, whatever the run's seed.
    */
  def warmupSet(firstSeq: Long): Seq[Event] = {
    val r = new scala.util.Random(0x5eedL)
    val seen = scala.collection.mutable.Set[(String, Boolean, Boolean)]()
    (0 until 200).flatMap { i =>
      val e = event(r, Hooks(i % Hooks.size), firstSeq + i)
      if (seen.add((e.hook, hasFraction(mapper.readTree(e.payload)), e.expected.isEmpty)))
        Some(e)
      else None
    }
  }

  private def hasFraction(n: JsonNode): Boolean =
    if (n.isContainerNode) n.elements().asScala.exists(hasFraction)
    else n.isNumber && !n.isIntegralNumber

  // ---- input properties a cache could exploit ----

  /** Key shape of a JSON text: field names plus token kinds (string,
    * integral number, fractional number, boolean, null, object, array),
    * values ignored.
    */
  def keyShape(json: String): String = {
    val sb = new StringBuilder
    def walk(n: JsonNode): Unit =
      if (n.isObject) {
        sb.append('{')
        n.fieldNames().forEachRemaining { f =>
          sb.append(f).append(':'); walk(n.get(f)); sb.append(',')
        }
        sb.append('}')
      } else if (n.isArray) {
        sb.append('['); n.elements().forEachRemaining(walk(_)); sb.append(']')
      } else sb.append(
        if (n.isTextual) "s" else if (n.isIntegralNumber) "i"
        else if (n.isNumber) "f" else if (n.isBoolean) "b" else "n")
    walk(mapper.readTree(json))
    sb.toString
  }

  /** (share of events whose key shape was already seen for the same
    * hook, share whose exact payload text was already seen).
    */
  def repeatShares(events: Seq[Event]): (Double, Double) = {
    if (events.isEmpty) return (0.0, 0.0)
    val shapes = scala.collection.mutable.Set[(String, String)]()
    val texts = scala.collection.mutable.Set[(String, String)]()
    var shapeHits = 0
    var textHits = 0
    events.foreach { e =>
      if (!shapes.add(e.hook -> keyShape(e.payload))) shapeHits += 1
      if (!texts.add(e.hook -> e.payload)) textHits += 1
    }
    (shapeHits.toDouble / events.size, textHits.toDouble / events.size)
  }

  // ---- output comparison ----

  /** JSON equality as the checker applies it: objects compare by key set
    * (a null-valued key equals an absent one), arrays element-wise,
    * numbers numerically (`10` equals `10.0`).
    */
  def jsonEq(a: JsonNode, b: JsonNode): Boolean =
    if (a == null || a.isNull || b == null || b.isNull)
      (a == null || a.isNull) && (b == null || b.isNull)
    else if (a.isNumber && b.isNumber)
      a.decimalValue.compareTo(b.decimalValue) == 0
    else if (a.isObject && b.isObject) {
      def keys(n: JsonNode) = {
        val ks = Set.newBuilder[String]
        n.fieldNames().forEachRemaining { k =>
          if (!n.get(k).isNull) ks += k
        }
        ks.result()
      }
      val ka = keys(a)
      ka == keys(b) && ka.forall(k => jsonEq(a.get(k), b.get(k)))
    } else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => jsonEq(a.get(i), b.get(i)))
    else if (a.isTextual && b.isTextual) a.asText == b.asText
    else if (a.isBoolean && b.isBoolean) a.asBoolean == b.asBoolean
    else false

  def parse(s: String): Option[JsonNode] =
    try Option(mapper.readTree(s)) catch { case _: Exception => None }
}

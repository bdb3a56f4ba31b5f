package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import Dashboard.{Absent, Num, Str}

class DashboardSpec extends AnyFunSuite {

  private val want = Seq(
    Map("time" -> Str("2024-01-01T00:00:00.000Z"), "value" -> Num(1.0 / 3, 1e-9)),
    Map("time" -> Str("2024-01-01T01:00:00.000Z"), "value" -> Absent))

  test("floating aggregates match at the stated relative tolerance") {
    assert(Dashboard.matches(
      """[{"time":"2024-01-01T00:00:00.000Z","value":0.33333333333333337},""" +
        """{"time":"2024-01-01T01:00:00.000Z"}]""", want))
    assert(!Dashboard.matches(
      """[{"time":"2024-01-01T00:00:00.000Z","value":0.3333334},""" +
        """{"time":"2024-01-01T01:00:00.000Z"}]""", want))
  }

  test("everything else must match exactly, in order, with no extra rows or keys") {
    val ok0 = """{"time":"2024-01-01T00:00:00.000Z","value":0.3333333333333333}"""
    val ok1 = """{"time":"2024-01-01T01:00:00.000Z"}"""
    assert(Dashboard.matches(s"[$ok0,$ok1]", want))
    assert(!Dashboard.matches(s"[$ok1,$ok0]", want)) // order
    assert(!Dashboard.matches(s"[$ok0]", want)) // missing row
    assert(!Dashboard.matches(s"[$ok0,$ok1,$ok1]", want)) // extra row
    assert(!Dashboard.matches( // a NULL that came back as a value
      s"""[$ok0,{"time":"2024-01-01T01:00:00.000Z","value":1.0}]""", want))
    assert(!Dashboard.matches( // an unexpected column
      s"""[$ok0,{"time":"2024-01-01T01:00:00.000Z","x":1}]""", want))
    assert(!Dashboard.matches("""{"error":"boom"}""", want))
    assert(Dashboard.matches("""[{"n":96}]""", Seq(Map("n" -> Str("96")))))
    assert(!Dashboard.matches("""[{"v":2.5}]""", Seq(Map("v" -> Num(2.5000001, 0.0)))))
  }

  test("every request of a universe has expected rows and a known shape") {
    val reqs = (0 until Dashboard.Universe).map(Dashboard.request(4, _))
    assert(reqs.map(_.shape).toSet == Dashboard.Shapes.toSet)
    assert(reqs.forall(_.rows.nonEmpty))
    assert(reqs.filter(_.body.isDefined).forall(_.path.startsWith("/sql?")))
  }

  /** Class of a recorded panel query by the rules `Dashboard.Deck`
    * states, or None for one that reads no time series. */
  private def panelClass(sql: String): Option[String] = {
    val s = sql.replaceAll("--[^\n]*", "").toLowerCase
    val head = s.split("\\bfrom\\b", 2)(0)
    val aggs = "\\b(avg|sum|min|max|count)\\s*\\(".r.findAllIn(head).size
    if ("\\bjoin\\b".r.findFirstIn(s).isDefined) Some("join")
    else if (!s.contains("$__timefilter")) None
    else if (s.contains("$__timegroup")) Some(if (aggs >= 2) "pivot" else "avg")
    else Some("latest")
  }

  test("the deck's panel SQL cards follow the recorded Grafana panels") {
    val file = Seq("../src/test/resources/graft/grafana_rawsql.json",
      "src/test/resources/graft/grafana_rawsql.json")
      .map(new java.io.File(_)).find(_.isFile).get
    val panels = new ObjectMapper().readTree(file).elements().asScala
      .map(_.get("sql").asText).toSeq
    assert(panels.size == 69)
    val counts = panels.flatMap(panelClass).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts == Map("avg" -> 25, "pivot" -> 10, "latest" -> 8, "join" -> 6))
    // largest remainder over the deck's 24 SQL cards
    val sqlCards = Dashboard.Deck.filter(_._1.startsWith("sql_")).map(_._2).sum
    assert(sqlCards == 24 && Dashboard.DeckSize == 32)
    val quota = counts.map { case (k, c) => k -> c.toDouble * sqlCards / counts.values.sum }
    val floors = quota.map { case (k, q) => k -> q.toInt }
    val extra = quota.toSeq.sortBy { case (_, q) => q.toInt - q }
      .take(sqlCards - floors.values.sum).map(_._1).toSet
    val cards = floors.map { case (k, f) => k -> (if (extra(k)) f + 1 else f) }
    val deck = Dashboard.Deck.toMap
    assert(cards("avg") == deck("sql_narrow") + deck("sql_wide"))
    assert(math.abs(deck("sql_narrow") - deck("sql_wide")) <= 1)
    assert(cards("pivot") == deck("sql_pivot"))
    assert(cards("latest") == deck("sql_latest"))
    assert(cards("join") == deck("sql_join"))
  }

  test("every deck of requests serves the stated mix, Zipf-ranked within a shape") {
    for (seed <- Seq(1L, 2L); d <- 0 until 3) {
      val draws = (d * Dashboard.DeckSize until (d + 1) * Dashboard.DeckSize)
        .map(Dashboard.draw(seed, _))
      assert(draws.groupBy(_ / Dashboard.PerShape)
        .map { case (s, v) => Dashboard.Shapes(s) -> v.size } == Dashboard.Deck.toMap)
    }
    val draws = (0 until 32000).map(Dashboard.draw(5, _))
    assert(draws == (0 until 32000).map(Dashboard.draw(5, _)))
    assert(draws != (0 until 32000).map(Dashboard.draw(6, _)))
    assert(draws.forall(r => r >= 0 && r < Dashboard.Universe))
    val top = draws.count(_ % Dashboard.PerShape == 0).toDouble / draws.size
    assert(top > 0.33 && top < 0.41) // 1 / H(8) ≈ 0.368
  }
}

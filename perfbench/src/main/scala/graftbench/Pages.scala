package graftbench

import scala.collection.mutable

import graft.pipeline.Bronze

/** Seeded synthetic brewery catalogue, served page by page like the
  * Open Brewery DB API (a JSON array of all-string objects per page,
  * no Link header, the last page short).
  *
  * Every page body is generated up front, so `fetch` costs a lookup and
  * Bronze's time holds no generator work. The data is dirty the way the
  * live API is: duplicated ids with differing fields, padded and blank
  * strings, blank `state` with `state_province` set, missing keys,
  * non-numeric and out-of-range coordinates. Country fan-out is skewed
  * to one dominant country; the shares are assumed (see the note on
  * `Types` in the companion).
  */
final class Pages(seed: Long, val pages: Int, val perPage: Int) extends Bronze.PageSource {
  import Pages._

  private val rnd = new java.util.SplittableRandom(seed)
  private def pick[A](xs: IndexedSeq[(A, Double)]): A = {
    var u = rnd.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u <= 0 }.getOrElse(xs.last)._1
  }
  private def chance(p: Double): Boolean = rnd.nextDouble() < p
  private def coord(range: Double): String =
    "%.6f".formatLocal(java.util.Locale.ROOT, (rnd.nextDouble() * 2 - 1) * range)

  /** Raw records, each a field → value map; an absent key is a missing
    * JSON key. */
  val records: IndexedSeq[Map[String, String]] = {
    val total = (pages - 1) * perPage + perPage / 2 + (seed.abs % 37).toInt
    val out = mutable.ArrayBuffer.empty[Map[String, String]]
    while (out.size < total) {
      if (out.nonEmpty && chance(0.03)) {
        // a re-listed brewery: same id, some fields changed
        val prev = out(rnd.nextInt(out.size))
        out += (if (chance(0.5)) prev
          else prev + ("city" -> pick(Cities)) + ("name" -> s"${prev("name")} Taproom"))
      } else out += fresh()
    }
    out.toIndexedSeq
  }

  private def fresh(): Map[String, String] = {
    val country = pick(Countries)
    val states = StatesOf(country)
    val state = states(rnd.nextInt(states.size))
    val m = mutable.LinkedHashMap[String, String](
      "id" -> f"${rnd.nextLong()}%016x-${rnd.nextInt(1 << 16)}%04x",
      "name" -> s"${pick(Words)} ${pick(Words)} Brewing",
      "brewery_type" -> pick(Types),
      "city" -> pick(Cities),
      "postal_code" -> f"${rnd.nextInt(100000)}%05d",
      "country" -> country,
      "state" -> state,
      "state_province" -> state,
      "latitude" -> coord(60),
      "longitude" -> coord(170))
    if (chance(0.05)) m("name") = s"  ${m("name")} "
    if (chance(0.04)) m("state") = "   "
    if (chance(0.005)) { m("state") = ""; m.remove("state_province") }
    else if (chance(0.5) && m("state").trim.nonEmpty) m.remove("state_province")
    if (chance(0.005)) m("name") = " "
    if (chance(0.003)) m("country") = ""
    if (chance(0.10)) m.remove("postal_code")
    if (chance(0.05)) { m.remove("latitude"); m.remove("longitude") }
    else if (chance(0.02)) m("latitude") = "n/a"
    else if (chance(0.01)) m("latitude") = "%.4f".formatLocal(java.util.Locale.ROOT, 90.5 + rnd.nextDouble() * 10)
    else if (chance(0.01)) m("longitude") = "%.4f".formatLocal(java.util.Locale.ROOT, -180.5 - rnd.nextDouble() * 10)
    m.toMap
  }

  val bodies: IndexedSeq[String] =
    records.grouped(perPage).map(_.map(json).mkString("[", ",", "]")).toIndexedSeq

  val bodyBytes: Long = bodies.map(_.getBytes("UTF-8").length.toLong).sum

  override def fetch(page: Int, perPage: Int): Bronze.Page = {
    require(perPage == this.perPage, s"source serves ${this.perPage} per page")
    if (page < 1 || page > bodies.size) Bronze.Page("[]", 0, None)
    else {
      val n = math.min(this.perPage, records.size - (page - 1) * this.perPage)
      Bronze.Page(bodies(page - 1), n, None)
    }
  }

  /** What the medallion must produce from these pages, computed without
    * Spark: silver keeps, per id, the row that sorts first on every other
    * column (nulls first), and drops it unless id, name, country and
    * state are set and the coordinates are in range. */
  lazy val expected: Expected = {
    def norm(m: Map[String, String], k: String): Option[String] =
      m.get(k).map(_.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse).filter(_.nonEmpty)
    def dbl(m: Map[String, String], k: String): Option[Double] =
      norm(m, k).flatMap(_.toDoubleOption)
    val cleaned = records.map { m =>
      Row(m("id"), norm(m, "name"), norm(m, "brewery_type"), norm(m, "country"),
        norm(m, "state").orElse(norm(m, "state_province")), norm(m, "city"),
        norm(m, "postal_code"), dbl(m, "latitude"), dbl(m, "longitude"))
    }
    val survivors = cleaned.groupBy(_.id).values.map(_.min(RowOrder)).filter { r =>
      r.name.isDefined && r.country.isDefined && r.state.isDefined &&
        r.lat.forall(v => v >= -90 && v <= 90) && r.lon.forall(v => v >= -180 && v <= 180)
    }.toSeq
    Expected(pages, records.size, survivors.size.toLong,
      survivors.map(_.breweryType.getOrElse("")).distinct.size.toLong)
  }
}

object Pages {
  final case class Expected(pages: Int, records: Int, silverRows: Long, byTypeRows: Long)

  private final case class Row(id: String, name: Option[String], breweryType: Option[String],
      country: Option[String], state: Option[String], city: Option[String],
      postal: Option[String], lat: Option[Double], lon: Option[Double])

  private val RowOrder: Ordering[Row] = {
    val s = Ordering.Option(Ordering.String)
    val d = Ordering.Option(Ordering.Double.TotalOrdering)
    Ordering.by[Row, (Option[String], Option[String], Option[String], Option[String])](
      r => (r.name, r.breweryType, r.country, r.state))(Ordering.Tuple4(s, s, s, s))
      .orElseBy(r => (r.city, r.postal, r.lat, r.lon))(Ordering.Tuple4(s, s, d, d))
  }

  private def json(m: Map[String, String]): String =
    m.map { case (k, v) => s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
      .mkString("{", ",", "}")

  // The fan-out below is assumed, not taken from the live API: no
  // sample of its distribution is in the repository. It yields 16
  // (country, state, type) cells and 49 gold partition directories per
  // day, and puts about two thirds of a daily run's stage time in gold
  // on a 4-core host, inside the 52-68% gold share that a 1,000-page
  // sizing run with a realistic fan-out measured. Gold's cost grows with
  // the number of partition directories; a 5,000-page sizing run wrote
  // about 3,300 of them, far more than 49, so per-directory costs weigh
  // less here than at the reference's scale.
  private val Types = IndexedSeq("micro" -> 55.0, "brewpub" -> 28.0, "planning" -> 10.0,
    "closed" -> 7.0)

  private val Countries = IndexedSeq("United States" -> 90.0, "England" -> 6.0,
    "Ireland" -> 4.0)

  private val StatesOf: Map[String, IndexedSeq[String]] = Map(
    "United States" -> IndexedSeq("California", "Colorado"),
    "England" -> IndexedSeq("Greater London"),
    "Ireland" -> IndexedSeq("Dublin"))

  private val Words = IndexedSeq("Hop", "Barrel", "Stone", "River", "Copper", "Iron",
    "Oak", "Pine", "Harbor", "Summit", "Valley", "Red", "Black", "Golden", "Old",
    "Wild", "Lone", "Twin", "North", "Grand").map(_ -> 1.0)

  private val Cities = IndexedSeq("Portland", "Denver", "San Diego", "Seattle",
    "Asheville", "Austin", "Chicago", "Boston", "Dublin", "London", "Melbourne",
    "Seoul", "Vienna", "Krakow", "Glasgow", "Springfield").map(_ -> 1.0)
}

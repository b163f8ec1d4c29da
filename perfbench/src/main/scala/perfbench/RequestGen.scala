package perfbench

import java.time.LocalDate
import java.util.Locale

import scala.util.Random

import graft.ingest.{ApiRequest, ExecutionPlan}

/** One pipeline request as the service would receive it: the validated
  * plan, the recorded provider payloads, and the enrichment recipe.
  */
case class PipelineRequest(
    id: String,
    plan: ExecutionPlan,
    payloads: Map[String, String], // "<endpoint>:<symbol>" -> payload
    recipe: String,
    featureColumns: Seq[String],
    bars: Map[String, Int],
    joins: Int) {

  /** Every byte the engine sees, in a fixed order. */
  def canonical: String = {
    val reqs = plan.rankedRequests.map(r =>
      r.endpointName + r.parameters.toSeq.sortBy(_._1).mkString("(", ",", ")"))
    (Seq(id, recipe) ++ reqs ++ payloads.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString("\n")
  }
}

/** Seeded generator of Alpha Vantage pipeline requests: 2-3
  * `TIME_SERIES_DAILY` payloads of 100-750 daily bars, 0-1 EARNINGS
  * payloads (eight quarters) and a six-feature enrichment recipe.
  */
object RequestGen {
  val Today: LocalDate = LocalDate.of(2026, 7, 1)

  private val Tickers = Seq("AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "META", "TSLA",
    "IBM", "ORCL", "INTC", "AMD", "CSCO", "ADBE", "NFLX", "QCOM", "TXN")
  // single-output (on, window) features: column name is <name>_<on>_<window>
  private val Features = Seq(
    "sma" -> Seq("open", "high", "low", "close"),
    "ema" -> Seq("open", "high", "low", "close"),
    "rolling_max" -> Seq("open", "high", "low", "close"),
    "rolling_min" -> Seq("open", "high", "low", "close"),
    "zscore" -> Seq("open", "high", "low", "close"),
    "rolling_vol" -> Seq("open", "high", "low", "close"))

  private def f2(x: Double) = String.format(Locale.ROOT, "%.2f", Double.box(x))

  /** The fixed requests set-up runs to warm the engine, one of each
    * shape of a pair with short extra series: a union + join request
    * and a union-only one. Their CSV hashes are goldens.
    */
  def warmups: Seq[PipelineRequest] = Seq(
    request("warmup", 2, 1, new Random(0), maxBars = 100),
    request("warmup_union", 3, 0, new Random(1), maxBars = 100))

  /** Request pair `index` of a run: a union-only request of three
    * series of 100-750 bars, and a union + join request of two 750-bar
    * series plus EARNINGS, in a seeded order. Tickers, prices, bar
    * counts of the union-only request and recipes vary with the seed;
    * the shapes and the join's date overlap do not. Whether the fuzzy
    * join accepts the pair depends on the generated values.
    */
  def pair(seed: Long, index: Int): Seq[PipelineRequest] = {
    val rnd = new Random(seed * 1000003L + index)
    val both = Seq(request(s"s${seed}p${index}u", 3, 0, rnd),
      request(s"s${seed}p${index}j", 2, 1, rnd, minBars = 750))
    if (rnd.nextBoolean()) both else both.reverse
  }

  /** A series that carries EARNINGS spans all eight quarters (750 bars),
    * so the join sees the same overlap in every request.
    */
  def request(id: String, nSeries: Int, nEarnings: Int, rnd: Random,
              minBars: Int = 100, maxBars: Int = 750): PipelineRequest = {
    val symbols = rnd.shuffle(Tickers).take(nSeries)
    val series = symbols.zipWithIndex.map { case (s, i) =>
      val n = if (i < nEarnings) 750 else minBars + rnd.nextInt(maxBars - minBars + 1)
      s -> (n, timeSeries(s, n, rnd))
    }
    val withEarnings = symbols.take(nEarnings).map(s => s -> earningsPayload(s, rnd))
    val plan = ExecutionPlan(
      series.map { case (s, (n, _)) =>
        ApiRequest("alpha_vantage", "TIME_SERIES_DAILY", Map("ticker" -> s, "limit" -> n))
      } ++ withEarnings.map { case (s, _) =>
        ApiRequest("alpha_vantage", "EARNINGS", Map("ticker" -> s))
      },
      semanticKeywords = Seq("daily", "prices", "stock") ++
        (if (nEarnings > 0) Seq("earnings") else Nil))
    val payloads =
      series.map { case (s, (_, p)) => s"TIME_SERIES_DAILY:$s" -> p }.toMap ++
        withEarnings.map { case (s, p) => s"EARNINGS:$s" -> p }
    val feats = Features.map { case (name, ons) =>
      (name, ons(rnd.nextInt(ons.size)), 5 + rnd.nextInt(26))
    }
    val recipe = feats.map { case (name, on, w) =>
      s"""{"name": "$name", "params": {"on": "$on", "window": $w}}"""
    }.mkString("""{"features": [""", ", ", "]}")
    PipelineRequest(id, plan, payloads, recipe,
      feats.map { case (name, on, w) => s"${name}_${on}_$w" },
      series.map { case (s, (n, _)) => s -> n }.toMap, nEarnings)
  }

  /** `n` consecutive daily bars ending the day before [[Today]]. */
  private def timeSeries(symbol: String, n: Int, rnd: Random): String = {
    var price = 20.0 + rnd.nextInt(400)
    val rows = (n to 1 by -1).map { back =>
      price = math.max(1.0, price * (1.0 + (rnd.nextDouble() - 0.5) * 0.04))
      val open = price
      val close = price * (1.0 + (rnd.nextDouble() - 0.5) * 0.02)
      val high = math.max(open, close) * (1.0 + rnd.nextDouble() * 0.01)
      val low = math.min(open, close) * (1.0 - rnd.nextDouble() * 0.01)
      val vol = 100000 + rnd.nextInt(5000000)
      s""""${Today.minusDays(back.toLong)}": {"1. open": "${f2(open)}", "2. high": "${f2(high)}", """ +
        s""""3. low": "${f2(low)}", "4. close": "${f2(close)}", "5. volume": "$vol"}"""
    }
    s"""{"Meta Data": {"1. Information": "Daily Prices", "2. Symbol": "$symbol"}, """ +
      s""""Time Series (Daily)": {${rows.mkString(", ")}}}"""
  }

  /** Eight quarters of reported vs. estimated EPS. */
  private def earningsPayload(symbol: String, rnd: Random): String = {
    val quarters = (1 to 8).map { q =>
      val end = Today.withDayOfMonth(1).minusMonths(3L * q).minusDays(1)
      val est = 0.5 + rnd.nextInt(300) / 100.0
      val rep = est + (rnd.nextInt(41) - 20) / 100.0
      s"""{"fiscalDateEnding": "$end", "reportedDate": "${end.plusDays(25)}", """ +
        s""""reportedEPS": "${f2(rep)}", "estimatedEPS": "${f2(est)}", """ +
        s""""surprise": "${f2(rep - est)}", "surprisePercentage": "${f2((rep - est) / est * 100)}"}"""
    }
    s"""{"symbol": "$symbol", "quarterlyEarnings": [${quarters.mkString(", ")}]}"""
  }
}

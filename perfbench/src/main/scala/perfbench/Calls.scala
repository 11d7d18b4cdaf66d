package perfbench

/** The seeded call streams. A stream is a pure function of the seed, the
  * store's symbols and its trading calendar (ISO dates, ascending), so the
  * same seed over the same store always issues the same calls. */
sealed trait ApiCall { def shape: String }
final case class PriceCall(symbol: String, start: String, end: String) extends ApiCall {
  def shape = "price"
}
final case class HistoryCall(symbol: String, end: String) extends ApiCall {
  def shape = "history"
}
final case class FundamentalsCall(symbol: String, date: String) extends ApiCall {
  def shape = "fundamentals"
}
final case class StatusCall(date: String) extends ApiCall { def shape = "status" }

object Calls {
  /** getPrice windows, in trading days: a week, a month, a year — so the
    * month-partition pruning of the store scan varies. */
  val PriceWindows: Seq[Int] = Seq(5, 20, 250)
  val HistoryCount = 20
  val ApiShapes: Seq[String] = Seq("price", "history", "fundamentals", "status")
  val ServeShapes: Seq[String] = Seq("price", "fundamentals", "status")

  /** `rounds` rounds of PTrade calls, each round the four shapes once in a
    * seeded order, so every stream prefix of whole rounds has the same shape
    * mix. Every getHistory call ends on one seeded calendar day, so their
    * reference answers can be derived in one call. */
  def api(seed: Long, symbols: IndexedSeq[String], calendar: IndexedSeq[String],
          rounds: Int): IndexedSeq[Seq[ApiCall]] = {
    require(symbols.nonEmpty && calendar.size > PriceWindows.max,
      s"store too small for the call mix: ${symbols.size} symbols, ${calendar.size} days")
    val rnd = new scala.util.Random(seed)
    def sym() = symbols(rnd.nextInt(symbols.size))
    def day() = calendar(rnd.nextInt(calendar.size))
    val end = calendar(HistoryCount + rnd.nextInt(calendar.size - HistoryCount))
    IndexedSeq.fill(rounds) {
      rnd.shuffle(ApiShapes).map {
        case "price" =>
          val w = PriceWindows(rnd.nextInt(PriceWindows.size))
          val e = w - 1 + rnd.nextInt(calendar.size - w + 1)
          PriceCall(sym(), calendar(e - w + 1), calendar(e))
        case "history" => HistoryCall(sym(), end)
        case "fundamentals" => FundamentalsCall(sym(), day())
        case _ => StatusCall(day())
      }
    }
  }

  /** `n` point-serving calls over the three PointServe shapes (the status
    * shape is `haltedOn`). */
  def serve(seed: Long, symbols: IndexedSeq[String], calendar: IndexedSeq[String],
            n: Int): IndexedSeq[ApiCall] = {
    val rnd = new scala.util.Random(seed ^ 0x5e7e5e7eL)
    IndexedSeq.fill(n) {
      ServeShapes(rnd.nextInt(ServeShapes.size)) match {
        case "price" =>
          val w = PriceWindows(rnd.nextInt(PriceWindows.size))
          val e = w - 1 + rnd.nextInt(calendar.size - w + 1)
          PriceCall(symbols(rnd.nextInt(symbols.size)), calendar(e - w + 1), calendar(e))
        case "fundamentals" =>
          FundamentalsCall(symbols(rnd.nextInt(symbols.size)),
            calendar(rnd.nextInt(calendar.size)))
        case _ => StatusCall(calendar(rnd.nextInt(calendar.size)))
      }
    }
  }
}

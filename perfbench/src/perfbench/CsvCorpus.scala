package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Seeded CSV corpus in the reference's 28-column schema, with the
  * values the converted output must hold computed at generation time.
  *
  * Input properties the cast path depends on (stated again in
  * BENCHMARK.json):
  *   - [[EmptyShare]] of the cells of every nullable column are empty,
  *     which the program turns into NULL;
  *   - [[InvalidShare]] of the int, long, date and timestamp cells hold
  *     an unparseable value, which also becomes NULL;
  *   - timestamps are spread evenly over the 9-, 6- and 3-digit
  *     fraction forms and the fraction-less form, so the four-pattern
  *     parse is not decided by its first pattern;
  *   - `address` always holds a comma, so every row has a quoted cell.
  *
  * The column order is this generator's own; the types match
  * FIXTURES.md A1.
  */
object CsvCorpus {

  val EmptyShare = 0.02
  val InvalidShare = 0.005

  sealed trait Kind
  case object Id extends Kind
  case class Str(gen: SplittableRandom => String) extends Kind
  case class Int32(lo: Int, hi: Int) extends Kind
  case class Int64(lo: Long, hi: Long) extends Kind
  case class Dec(precision: Int, scale: Int, maxUnscaled: Long) extends Kind
  case class Day(from: LocalDate, days: Int) extends Kind
  case object Ts extends Kind

  private val words = Array("alpha", "bravo", "cargo", "delta", "ember",
    "fjord", "gamma", "harbor", "iris", "jade", "kilo", "lumen", "mesa",
    "nadir", "onyx", "prism", "quartz", "ridge", "sierra", "tundra")
  private val cities = Array("Lisbon", "Osaka", "Denver", "Nairobi",
    "Tromso", "Quito", "Hanoi", "Perth", "Cork", "Leipzig")
  private val statuses = Array("ACTIVE", "PENDING", "CLOSED", "FROZEN")
  private val currencies = Array("USD", "EUR", "JPY", "GBP", "CHF", "CAD")

  private def sentence(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")

  /** Name and kind of each column, in file order. */
  val columns: Seq[(String, Kind)] = Seq(
    "id" -> Id,
    "name" -> Str(r => s"${words(r.nextInt(20))} ${words(r.nextInt(20))}"),
    "description" -> Str(r => sentence(r, 8 + r.nextInt(10))),
    "amount" -> Dec(10, 2, 9999999999L),
    "age" -> Int32(0, 100),
    "birth_date" -> Day(LocalDate.of(1940, 1, 1), 25000),
    "code" -> Str(r => f"C${r.nextInt(100000)}%05d"),
    "currency_code" -> Str(r => currencies(r.nextInt(currencies.length))),
    "flag" -> Int32(0, 1),
    "large_count" -> Int64(0L, 1000000000000L),
    "event_timestamp" -> Ts,
    "notes" -> Str(r => sentence(r, 3 + r.nextInt(4))),
    "quantity" -> Int32(1, 1000),
    "account_id" -> Int64(1000000000L, 9999999999L),
    "address" -> Str(r =>
      s"${1 + r.nextInt(9999)} ${words(r.nextInt(20))} St, " +
        cities(r.nextInt(cities.length))),
    "email" -> Str(r =>
      s"${words(r.nextInt(20))}${r.nextInt(10000)}@example.com"),
    "phone" -> Str(r => f"+1-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"),
    "big_number" -> Int64(-1000000000000000L, 1000000000000000L),
    "status" -> Str(r => statuses(r.nextInt(statuses.length))),
    "transaction_date" -> Day(LocalDate.of(2015, 1, 1), 3650),
    "huge_number" -> Int64(-900000000000000000L, 900000000000000000L),
    "city" -> Str(r => cities(r.nextInt(cities.length))),
    "order_id" -> Int32(1, 1000000000),
    "massive_count" -> Int64(0L, 1000000000000000000L),
    "total" -> Dec(38, 2, 100000000000000L),
    "comments" -> Str(r => sentence(r, 5 + r.nextInt(8))),
    "balance" -> Int64(-1000000000L, 1000000000L),
    "uuid" -> Str(r => new java.util.UUID(r.nextLong(), r.nextLong()).toString))

  /** Whether each column's stats carry a minimum and maximum. */
  val ordered: Seq[Boolean] = columns.map {
    case (_, Str(_)) => false
    case _ => true
  }

  /** The schema document in the reference's `schema.json` format. */
  def schemaJson: String = columns.map { case (name, kind) =>
    val body = kind match {
      case Id => """"type": "INT32", "repetition": "REQUIRED""""
      case Str(_) => """"type": "BINARY", "logicalType": "STRING""""
      case Int32(_, _) => """"type": "INT32""""
      case Int64(_, _) => """"type": "INT64""""
      case Dec(p, s, _) =>
        s""""type": "BINARY", "logicalType": "DECIMAL", """ +
          s""""precision": $p, "scale": $s"""
      case Day(_, _) => """"type": "INT32", "logicalType": "DATE""""
      case Ts => """"type": "INT64", "logicalType": "TIMESTAMP_MICROS""""
    }
    s"""    {"name": "$name", $body}"""
  }.mkString("{\n  \"fields\": [\n", ",\n", "\n  ]\n}\n")

  /** What the converted output of some files must hold: per column,
    * the non-null count and the sum, minimum and maximum of a numeric
    * reading of the value (the value itself for numbers, epoch days
    * for dates, epoch microseconds for timestamps, the length for
    * strings, which have no minimum or maximum here). */
  final class Stats(val rows: Long, val nonNull: Array[Long],
      val sum: Array[JBigDecimal], val min: Array[JBigDecimal],
      val max: Array[JBigDecimal]) {
    def +(o: Stats): Stats = new Stats(rows + o.rows,
      nonNull.zip(o.nonNull).map { case (a, b) => a + b },
      sum.zip(o.sum).map { case (a, b) => a.add(b) },
      pick(min, o.min, _ < 0), pick(max, o.max, _ > 0))
    def sameAs(o: Stats): Boolean = {
      def eq(x: JBigDecimal, y: JBigDecimal) =
        if (x == null || y == null) x == y else x.compareTo(y) == 0
      rows == o.rows && nonNull.sameElements(o.nonNull) &&
        sum.indices.forall(i => eq(sum(i), o.sum(i)) &&
          eq(min(i), o.min(i)) && eq(max(i), o.max(i)))
    }
    private def pick(a: Array[JBigDecimal], b: Array[JBigDecimal],
        better: Int => Boolean) = a.zip(b).map {
      case (null, y) => y
      case (x, null) => x
      case (x, y) => if (better(y.compareTo(x))) y else x
    }
  }

  private final class Acc {
    private val n = columns.size
    var rows = 0L
    val nonNull = new Array[Long](n)
    val sum = Array.fill(n)(JBigDecimal.ZERO)
    val min = new Array[JBigDecimal](n)
    val max = new Array[JBigDecimal](n)
    def add(i: Int, v: JBigDecimal): Unit = {
      nonNull(i) += 1
      sum(i) = sum(i).add(v)
      if (ordered(i)) {
        if (min(i) == null || v.compareTo(min(i)) < 0) min(i) = v
        if (max(i) == null || v.compareTo(max(i)) > 0) max(i) = v
      }
    }
    def stats = new Stats(rows, nonNull, sum, min, max)
  }

  private val tsBase = LocalDateTime.of(2020, 1, 1, 0, 0)
  private val tsSpanSeconds = 5L * 365 * 86400

  /** Writes `files` CSV files of `rowsPerFile` rows each, named
    * `input-<i>.csv`, into `dir`. Returns the expected output stats
    * per file name without its extension. */
  def generate(dir: File, files: Int, rowsPerFile: Int, seed: Long,
      threads: Int): Map[String, Stats] = {
    dir.mkdirs()
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until files).map { f =>
        new Callable[(String, Stats)] {
          def call(): (String, Stats) = {
            val name = f"input-$f%04d"
            name -> writeFile(new File(dir, name + ".csv"), f, rowsPerFile,
              new SplittableRandom(seed * 1000003L + f))
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  private def writeFile(file: File, fileIndex: Int, rows: Int,
      r: SplittableRandom): Stats = {
    val acc = new Acc
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(columns.map(_._1).mkString(","))
      out.write('\n')
      val sb = new java.lang.StringBuilder(1024)
      var row = 0
      while (row < rows) {
        sb.setLength(0)
        var i = 0
        for ((_, kind) <- columns) {
          if (i > 0) sb.append(',')
          cell(kind, fileIndex.toLong * rows + row, r, acc, i, sb)
          i += 1
        }
        sb.append('\n')
        out.append(sb)
        acc.rows += 1
        row += 1
      }
    } finally out.close()
    acc.stats
  }

  private def bd(v: Long) = JBigDecimal.valueOf(v)

  /** Appends one cell and records the value the program must produce. */
  private def cell(kind: Kind, rowId: Long, r: SplittableRandom, acc: Acc,
      i: Int, sb: java.lang.StringBuilder): Unit = {
    if (kind != Id && r.nextDouble() < EmptyShare) return
    val invalid = r.nextDouble() < InvalidShare
    kind match {
      case Id =>
        sb.append(rowId)
        acc.add(i, bd(rowId))
      case Str(gen) =>
        val s = gen(r)
        if (s.indexOf(',') >= 0) sb.append('"').append(s).append('"')
        else sb.append(s)
        acc.add(i, bd(s.length.toLong))
      case Int32(lo, hi) =>
        if (invalid) sb.append(if (r.nextBoolean()) "n/a" else "12x")
        else {
          val v = lo + r.nextLong(hi.toLong - lo + 1)
          sb.append(v)
          acc.add(i, bd(v))
        }
      case Int64(lo, hi) =>
        if (invalid)
          sb.append(if (r.nextBoolean()) "n/a" else "9223372036854775808")
        else {
          val v = lo + r.nextLong(hi - lo + 1)
          sb.append(v)
          acc.add(i, bd(v))
        }
      case Dec(_, scale, maxUnscaled) =>
        val v = JBigDecimal.valueOf(r.nextLong(maxUnscaled + 1), scale)
        sb.append(v.toPlainString)
        acc.add(i, v)
      case Day(from, days) =>
        if (invalid) sb.append("2023-13-45")
        else {
          val d = from.plusDays(r.nextInt(days).toLong)
          sb.append(d.toString)
          acc.add(i, bd(d.toEpochDay))
        }
      case Ts =>
        if (invalid) sb.append("2023-13-45 25:61:00")
        else {
          val t = tsBase.plusSeconds(r.nextLong(tsSpanSeconds))
          sb.append(t.toLocalDate.toString).append(' ')
            .append(f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
          val secMicros = t.toEpochSecond(ZoneOffset.UTC) * 1000000L
          val micros = r.nextInt(4) match {
            case 0 =>
              val nanos = r.nextInt(1000000000)
              sb.append('.').append(f"$nanos%09d")
              nanos / 1000 // the program keeps microseconds, truncated
            case 1 =>
              val us = r.nextInt(1000000)
              sb.append('.').append(f"$us%06d")
              us
            case 2 =>
              val ms = r.nextInt(1000)
              sb.append('.').append(f"$ms%03d")
              ms * 1000
            case _ => 0
          }
          acc.add(i, bd(secMicros + micros))
        }
    }
  }
}

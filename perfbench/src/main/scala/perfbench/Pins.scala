package perfbench

import java.io.{File, PrintWriter}

/** Pinned outputs: `workload<TAB>seed<TAB>key<TAB>value` lines, where seed
  * `*` pins a value for every seed. Read from `pins.tsv` on the classpath;
  * `--pin` runs append the observed outcome of the first op instead. */
final class Pins(lines: Seq[(String, String, String, String)]) {

  def check(workload: String, seed: Long, o: Outcome): Seq[String] =
    lines.collect {
      case (w, s, k, want) if w == workload && (s == "*" || s == seed.toString)
          && !o.values.get(k).contains(want) =>
        s"$k is ${o.values.getOrElse(k, "missing")}, pinned $want"
    }
}

object Pins {
  def load(): Pins = {
    val in = Option(getClass.getResourceAsStream("/perfbench/pins.tsv"))
    new Pins(in.toSeq.flatMap { s =>
      val src = scala.io.Source.fromInputStream(s, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(w, seed, k, v) = l.split("\t", 4)
        (w, seed, k, v)
      }.toList finally src.close()
    })
  }

  def write(file: File, workload: String, seed: String, o: Outcome): Unit = {
    val w = new PrintWriter(new java.io.FileWriter(file, true))
    try o.values.toSeq.sorted.foreach { case (k, v) => w.println(s"$workload\t$seed\t$k\t$v") }
    finally w.close()
  }
}

package graft

/** The spark-submit mains' argv parser: strict `--key value` pairing. A
  * value-less flag would silently shift every later pair (e.g.
  * `--compact --out X` parses as compact="--out" and drops out entirely),
  * so malformed argv is an error, not a guess.
  */
object Args {
  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --key value pairs; got odd argv ${args.mkString(" ")}")
    args
      .sliding(2, 2)
      .map {
        case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
        case Array(k, v) => sys.error(s"malformed argument pair '$k $v': expected --key value")
      }
      .toMap
  }
}

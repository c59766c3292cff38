package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** CLI front-end with the REFERENCE's flag surface (config.go:164-371)
  * so a reference user's launch scripts port with a path swap: broker
  * coordinates (`--addresses`, `--nats-url`, stream/KV buckets) become
  * the three directories; everything else keeps its exact flag name,
  * default, and validation message shape.
  *
  *   sbt "runMain graft.streaming.RelayCli --cluster-id 1 \
  *     --input-dir /in --output-dir /out --checkpoint-dir /chk \
  *     --subject-mode structured --dedupe-window '2 minutes' --drain"
  *
  * Broker-only flags are ACCEPTED and reported as ignored (not
  * errors), so an existing invocation keeps working verbatim.
  */
object RelayCli {

  /** Flags with no analog in a parquet-sink build — accepted, ignored,
    * reported (each takes one value argument).
    */
  private val IgnoredValueFlags = Set(
    "addresses", "nats-url", "stream", "stream-replicas", "stream-storage",
    "stream-max-age", "stream-max-bytes", "stream-update",
    "progress-bucket", "lock-bucket", "kv-replicas", "kv-storage",
    "lock-ttl", "lock-refresh", "publish-mode", "publish-async-max-pending",
    "publish-ack-timeout", "progress-every-events")

  final case class Parsed(config: CdcRelay.RelayConfig, drain: Boolean,
      ignored: Seq[String])

  /** Parse `--k v` / `--k=v` args into a validated [[CdcRelay.RelayConfig]].
    * Throws IllegalArgumentException with the reference's message shape
    * (`--cluster-id is required`, `invalid --event-count-max: …`).
    */
  def parse(args: Seq[String]): Parsed = {
    val kv = scala.collection.mutable.Map.empty[String, String]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    def bare(a: String) = a.stripPrefix("--")
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected argument: $a")
      a.indexOf('=') match {
        case -1 =>
          val k = bare(a)
          // boolean-style flags take no value
          if (k == "drain" || k == "provision" || k == "single-writer-lease" ||
              k == "stream-update") { flags += k; i += 1 }
          else if (i + 1 >= args.length)
            throw new IllegalArgumentException(s"flag --$k needs a value")
          else { kv(k) = args(i + 1); i += 2 }
        case eq => kv(bare(a.substring(0, eq))) = a.substring(eq + 1); i += 1
      }
    }
    // Go's flag package accepts booleans both bare (--provision) and
    // valued (--provision=false); honor both forms
    def bool(k: String): Boolean =
      flags.contains(k) || kv.get(k).exists { v =>
        v.toLowerCase match {
          case "true" | "1" => true
          case "false" | "0" => false
          case other =>
            throw new IllegalArgumentException(s"invalid --$k: '$other'")
        }
      }
    val boolFlags = Set("drain", "provision", "single-writer-lease",
      "stream-update")
    val known = Set("cluster", "cluster-id", "input-dir", "output-dir",
      "checkpoint-dir", "subject-mode", "subject-prefix", "subject",
      "dedupe-window", "event-count-max", "idle-interval-ms",
      "requests-per-second-limit", "timestamp-last")
    val unknown = (kv.keySet ++ flags) --
      known -- IgnoredValueFlags -- boolFlags
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"flag provided but not defined: ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}")
    val cluster = kv.get("cluster-id").orElse(kv.get("cluster")).getOrElse(
      throw new IllegalArgumentException("--cluster-id is required"))
    def long(k: String): Option[Long] = kv.get(k).map { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid --$k: '$v'")
      }
    }
    def dbl(k: String): Option[Double] = kv.get(k).map { v =>
      try v.toDouble catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid --$k: '$v'")
      }
    }
    // bounds-checked here (not via silent .toInt truncation): the
    // reference's parser rejects out-of-range values at parse time
    val eventCountMax = long("event-count-max").map { v =>
      if (v < 1 || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"--event-count-max must be in [1, ${Int.MaxValue}]")
      v.toInt
    }
    def dir(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    val base = CdcRelay.RelayConfig(
      inputDir = dir("input-dir"),
      outputDir = dir("output-dir"),
      checkpointDir = dir("checkpoint-dir"),
      clusterId = cluster)
    val cfg = base.copy(
      subjectMode = kv.getOrElse("subject-mode", base.subjectMode),
      subjectPrefix = kv.getOrElse("subject-prefix", base.subjectPrefix),
      singleSubject = kv.getOrElse("subject", base.singleSubject),
      dedupeWindow = kv.getOrElse("dedupe-window", base.dedupeWindow),
      maxFilesPerTrigger = eventCountMax.orElse(base.maxFilesPerTrigger),
      idleIntervalMs = long("idle-interval-ms").getOrElse(base.idleIntervalMs),
      // fractional rates are meaningful (floor(rps x idleInterval))
      maxFilesPerSecond = dbl("requests-per-second-limit"),
      provision =
        if (flags.contains("provision") || kv.contains("provision"))
          bool("provision")
        else base.provision,
      singleWriterLease = bool("single-writer-lease"),
      timestampLast = long("timestamp-last"))
    Parsed(cfg.validated, drain = bool("drain"),
      // bare AND valued broker-only flags are both reported
      ignored = (kv.keySet ++ flags).intersect(IgnoredValueFlags).toSeq.sorted)
  }

  def main(args: Array[String]): Unit = {
    val parsed =
      try parse(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[relay-cli] ${e.getMessage}")
          sys.exit(2)
      }
    parsed.ignored.foreach(f =>
      System.err.println(s"[relay-cli] ignoring broker-only flag --$f"))
    val spark = graft.Session.local("relay-cli")
    val query =
      if (parsed.drain) CdcRelay.start(spark, parsed.config,
        Trigger.AvailableNow())
      else CdcRelay.startContinuous(spark, parsed.config)
    query.awaitTermination()
  }
}

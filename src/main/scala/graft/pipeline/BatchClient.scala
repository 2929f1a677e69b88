package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The reference's batch-API client loop (json_classification.py:
  * 160-192: upload, create job, poll every 5 s until completed|failed,
  * download) re-expressed as a distributed classifier with the service
  * surface injected — the same pattern as [[BoltGraphSink]]: the
  * Spark-side plumbing (per-partition batching, poll/backoff/retry
  * control flow, result join-back) is real and unit-tested; the
  * HTTP transport is a factory a real deployment fills in.
  */
object BatchClient {

  /** Injected service surface, created ON THE EXECUTOR by the factory
    * closure once per partition. A real impl wraps the vendor SDK /
    * HTTP client; tests use recording or flaky fakes.
    */
  trait Transport {
    def submit(batch: Seq[String]): String
    def status(jobId: String): String
    def fetch(jobId: String): Seq[(String, String)]
  }

  /** Deterministic offline transport: completes immediately and labels
    * each term with the md5-derived rule (`Classify.RuleClassifier`'s
    * formula computed JVM-side), so the full submit/poll/fetch client
    * machinery can run inside an oracle-checked query — the transport
    * analog of MockClassifier's test_mode role.
    */
  def ruleTransport(): Transport = new Transport {
    private var batches = Map.empty[String, Seq[String]]
    private var n = 0
    override def submit(batch: Seq[String]): String = {
      n += 1; val id = s"job-$n"; batches += id -> batch; id
    }
    override def status(jobId: String): String = "completed"
    override def fetch(jobId: String): Seq[(String, String)] =
      batches(jobId).map { term =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(term.getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        val h = java.lang.Long.parseLong(hex, 16)
        term -> Seq("person", "place", "organization", "term")((h % 4).toInt)
      }
  }
}

/** O17 as a stateful service call at scale: each partition groups its
  * terms into batches of `batchSize`, submits one job per batch, polls
  * with exponential backoff (capped at the reference's 5 s cadence,
  * bounded by `maxPollAttempts`), resubmits failed jobs up to
  * `maxRetries`, and emits (norm, type) rows. `mapPartitions` is the
  * right tool here — this IS the service boundary — and the injected
  * `sleeper` keeps the retry spec instant.
  *
  * Failure is loud: a batch that stays failed after the retry budget
  * throws rather than silently dropping its terms (the reference's
  * poll loop has the same property — it blocks until a terminal
  * status).
  */
final class BatchClassifier(
    transport: () => BatchClient.Transport,
    batchSize: Int = 100,
    maxPollAttempts: Int = 20,
    maxRetries: Int = 2,
    sleeper: Long => Unit = Thread.sleep) extends Classify.Classifier with Serializable {

  override def classify(norms: DataFrame): DataFrame = {
    val session = norms.sparkSession
    import session.implicits._
    val label = labeler
    norms.select("norm").as[String].mapPartitions(label).toDF("norm", "type")
  }

  /** One pass over `vocab`: known entities pass through, and only the
    * other norms are batched to the service.
    */
  override def labelVocabulary(vocab: DataFrame): DataFrame = {
    val session = vocab.sparkSession
    import session.implicits._
    val label = labeler
    vocab.select("norm", "entity").as[(String, String)].mapPartitions { it =>
      val (known, unknown) = it.partition(_._2 != null)
      known.map { case (n, e) => (n, e, true) } ++
        label(unknown.map(_._1)).map { case (n, t) => (n, t, false) }
    }.toDF("norm", "type", "known")
  }

  /** The per-partition client loop over a stream of norms. Built from
    * the constructor arguments alone, so the closure serializes without
    * this instance.
    */
  private def labeler: Iterator[String] => Iterator[(String, String)] = {
    val (t, bs, mp, mr, sl) = (transport, batchSize, maxPollAttempts, maxRetries, sleeper)
    it => {
      val tr = t()
      it.grouped(bs).flatMap { chunk =>
        var attempt = 0
        var result: Option[Seq[(String, String)]] = None
        while (result.isEmpty && attempt <= mr) {
          val job = tr.submit(chunk)
          var polls = 0
          var st = tr.status(job)
          while (st != "completed" && st != "failed" && polls < mp) {
            // Clamp the shift: the 5 s cap is reached at polls = 6, and an
            // unclamped `100L << polls` overflows Long at polls >= 57,
            // turning min() negative and crashing Thread.sleep.
            sl(math.min(5000L, 100L << math.min(polls, 6)))
            polls += 1
            st = tr.status(job)
          }
          st match {
            case "completed" => result = Some(tr.fetch(job))
            case "failed" => attempt += 1 // terminal: safe to resubmit
            case other =>
              // NOT terminal: the job may still be running server-side.
              // Resubmitting would classify the batch twice — surface
              // the distinct condition instead of calling it a failure.
              throw new IllegalStateException(
                s"batch job $job still '$other' after $mp polls — " +
                  "raise maxPollAttempts; not resubmitting a possibly-live job")
          }
        }
        result.getOrElse(throw new IllegalStateException(
          s"batch job still failed after $mr resubmissions"))
      }
    }
  }
}

package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Design decisions (SURVEY.md §4, §7.0):
  *  - UTC session timezone: the reference's date-truncation semantics
  *    (`fecha_trx::date`, /root/reference/src/bot_ventas.py:41,55) are
  *    timezone-sensitive; pinning UTC makes them deterministic and
  *    oracle-comparable.
  *  - ANSI off: the reference's cast hygiene is coerce-to-null
  *    (`errors='coerce'`, /root/reference/src/transform.py:61-64,113-122);
  *    we additionally use explicit `try_cast` at every such site so the
  *    behavior is pinned regardless of ANSI mode.
  *  - local[N] with N the host's processors unless the caller passes a
  *    width, and shuffle.partitions sized to it, not the 200 default:
  *    correct for local[N]; on a real cluster AQE coalescing overrides it.
  *  - AQE on: runtime re-planning (skew joins, partition coalescing) is the
  *    scale story for 100 TB — plans are declared, Spark adapts them.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // all SQL-level configs + function registration live in tune() so
    // the two session paths (own factory vs driver-provided) can't drift
    tune(spark)
  }

  /** The width `SPARK_GRAFT_CPUS` asks the artifact mains for, else
    * `default`. Parsed once and failing fast: a value that is not a
    * positive integer is an error, never a silently different width. */
  def envCpus(default: Int): Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString).trim
    val cpus = raw.toIntOption.getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$raw'"))
    require(cpus >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $cpus")
    cpus
  }

  /** Silence the `WindowExec` no-partition warning CATEGORY in the
    * driver-artifact mains (Bench/Verify) ONLY — the r18 verdict
    * hygiene item: every occurrence in this engine is an
    * unpartitioned window over a REDUCED frame (legal by the
    * registry-wide PlanAuditSpec sweep, e.g. the \|strata\|-row
    * profiling folds), but hundreds of repeats bury any REAL warning
    * a future regression would emit in the artifact tail. Dev and
    * test logging stay loud — only the two artifact mains call
    * this, and PlanAuditSpec (not a log grep) remains the actual
    * guard against a corpus-scale unpartitioned window. */
  def quietKnownBenignWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Apply the engine's required configs to an externally-created session
    * (the driver's Verify/Bench mains build their own). Session-local,
    * no restart needed. Also registers the engine's native expressions
    * as SQL functions so the spark.sql text path reaches them too, once
    * per session: re-registering replaces each function with a WARN.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the events fixture stores TIMESTAMP(NANOS), which the vectorized
    // reader rejects; long nanos keep the arithmetic integer-exact
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // graft_min_gram_fold is the last one registerFunctions registers
    if (!spark.catalog.functionExists("graft_min_gram_fold"))
      registerFunctions(spark)
    spark
  }

  /** Session-local SQL registration of the native codegen expressions
    * (`graft_dot_product(a, b)`, `graft_rp_signature(v, planes)`). */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.GraftColumns
    import graft.functions.{DotProduct, RpSignature}
    GraftColumns.registerFunction(spark, "graft_dot_product", { args =>
      require(args.length == 2,
        s"graft_dot_product expects 2 arguments (a, b), got ${args.length}")
      DotProduct(args(0), args(1))
    })
    GraftColumns.registerFunction(spark, "graft_rp_signature", { args =>
      require(args.length == 2,
        s"graft_rp_signature expects 2 arguments (vector, planes literal), got ${args.length}")
      RpSignature(args.head, intLiteral("graft_rp_signature planes", args(1)))
    })
    import graft.functions.{MinhashSignature, ShingleHashes, SimhashFingerprint, TokenHashes}
    GraftColumns.registerFunction(spark, "graft_token_hashes", { args =>
      require(args.length == 1,
        s"graft_token_hashes expects 1 argument (text), got ${args.length}")
      TokenHashes(args.head)
    })
    GraftColumns.registerFunction(spark, "graft_shingle_hashes", { args =>
      require(args.length == 1,
        s"graft_shingle_hashes expects 1 argument (text), got ${args.length}")
      ShingleHashes(args.head)
    })
    GraftColumns.registerFunction(spark, "graft_minhash_signature", { args =>
      require(args.length == 2,
        s"graft_minhash_signature expects 2 arguments (shingles, k literal), got ${args.length}")
      MinhashSignature(args.head, intLiteral("graft_minhash_signature k", args(1)))
    })
    GraftColumns.registerFunction(spark, "graft_simhash", { args =>
      require(args.length == 2,
        s"graft_simhash expects 2 arguments (shingles, bits literal), got ${args.length}")
      SimhashFingerprint(args.head, intLiteral("graft_simhash bits", args(1)))
    })
    import graft.functions.{CharFold, MarkerCount, MinGramFold, PolyFold, SumTokenLengths}
    GraftColumns.registerFunction(spark, "graft_marker_count", { args =>
      require(args.length >= 2,
        s"graft_marker_count expects (words, marker literals...), got ${args.length} arguments")
      MarkerCount(args.head,
        args.tail.map(a => stringLiteral("graft_marker_count marker", a)))
    })
    GraftColumns.registerFunction(spark, "graft_sum_token_lengths", { args =>
      require(args.length == 1,
        s"graft_sum_token_lengths expects 1 argument (words), got ${args.length}")
      SumTokenLengths(args.head)
    })
    GraftColumns.registerFunction(spark, "graft_char_fold", { args =>
      require(args.length == 3,
        s"graft_char_fold expects 3 arguments (text, mult literal, seed literal), got ${args.length}")
      CharFold(args.head,
        intLiteral("graft_char_fold mult", args(1)).toLong,
        intLiteral("graft_char_fold seed", args(2)).toLong)
    })
    GraftColumns.registerFunction(spark, "graft_poly_fold", { args =>
      require(args.length == 2,
        s"graft_poly_fold expects 2 arguments (hashes, mult literal), got ${args.length}")
      PolyFold(args.head, intLiteral("graft_poly_fold mult", args(1)).toLong)
    })
    GraftColumns.registerFunction(spark, "graft_min_gram_fold", { args =>
      require(args.length == 2,
        s"graft_min_gram_fold expects 2 arguments (hashes, gram literal), got ${args.length}")
      MinGramFold(args.head, intLiteral("graft_min_gram_fold gram", args(1)))
    })
  }

  private def intLiteral(what: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = e match {
    case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
      lit.value.toString.toInt
    case other => sys.error(s"$what must be an integer literal, got $other")
  }

  private def stringLiteral(what: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): String = e match {
    case lit: org.apache.spark.sql.catalyst.expressions.Literal
        if lit.value != null =>
      lit.value.toString
    case other => sys.error(s"$what must be a string literal, got $other")
  }
}

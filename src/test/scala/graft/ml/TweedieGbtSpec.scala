package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Tweedie gradient boosting (the reference's real M5 objective,
  * full.yaml:4). Golden-style: behavior pinned on a deterministic
  * intermittent-demand fixture under fixed seed — never oracle-hashed
  * (SURVEY §5.3). */
class TweedieGbtSpec extends SparkSpec {
  import spark.implicits._

  /** Intermittent-demand shape: mostly zeros, occasional positive
    * spikes whose intensity depends on the features — the data LightGBM's
    * tweedie objective exists for. Deterministic (seeded). */
  private lazy val demand = {
    val rng = new scala.util.Random(7)
    val rows = (1 to 3000).map { i =>
      val x1 = rng.nextDouble() * 10        // demand driver
      val x2 = rng.nextDouble()             // noise feature
      val rate = math.exp(0.3 * x1 - 2.0)   // log-linear intensity
      // compound-poisson-ish: zero with prob depending on rate, else
      // a positive amount around the rate
      val y = if (rng.nextDouble() < math.exp(-rate)) 0.0
              else rate * (0.5 + rng.nextDouble())
      (x1, x2, y, i % 5 == 0)               // every 5th row → validation
    }
    val df = rows.toDF("x1", "x2", "y", "is_valid")
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1", "x2")).setOutputCol("features")
      .transform(df)
      .localCheckpoint(true)
  }

  test("fit reduces Tweedie deviance vs the intercept-only model") {
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, variancePower = 1.3, earlyStoppingRounds = 30)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val valid = demand.filter(col("is_valid"))

    val scored = model.transform(valid, "mu")
    val dev = TweedieGbt.meanDeviance(scored, "y", "mu", 1.3)
    val meanY = demand.filter(!col("is_valid")).agg(avg("y")).head().getDouble(0)
    val baseline = TweedieGbt.meanDeviance(
      valid.withColumn("mu0", lit(meanY)), "y", "mu0", 1.3)
    assert(dev < baseline * 0.9,
      s"boosting must beat the intercept: model=$dev intercept=$baseline")
    // log link: predictions strictly positive, as LightGBM's tweedie
    assert(scored.filter(col("mu") <= 0).isEmpty, "μ = exp(F) must be > 0")
  }

  test("beats squared-loss GBT on held-out Tweedie deviance") {
    val params = TweedieGbt.Params(maxIter = 30, stepSize = 0.2,
      maxDepth = 4, variancePower = 1.3, earlyStoppingRounds = 30)
    val tweedie = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
      .setFeaturesCol("features").setLabelCol("y")
      .setMaxIter(30).setStepSize(0.2).setMaxDepth(4).setSeed(42L)
      .fit(demand.filter(!col("is_valid")))

    val valid = demand.filter(col("is_valid"))
    val devT = TweedieGbt.meanDeviance(
      tweedie.transform(valid, "mu"), "y", "mu", 1.3)
    // squared-loss GBT can predict ≤ 0 where the Tweedie deviance is
    // undefined — clamp, which only HELPS the squared-loss side
    val devS = TweedieGbt.meanDeviance(
      gbt.transform(valid).withColumn("mu",
        greatest(col("prediction"), lit(1e-6))).drop("prediction"),
      "y", "mu", 1.3)
    assert(devT < devS,
      s"tweedie objective must win its own metric: tweedie=$devT squared=$devS")
  }

  test("eval-set early stopping truncates at the best validation round") {
    // aggressive step + deep trees overfit the small train split fast,
    // so validation deviance turns upward well before maxIter
    val params = TweedieGbt.Params(maxIter = 60, stepSize = 0.5,
      maxDepth = 8, variancePower = 1.3, earlyStoppingRounds = 5)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    assert(model.validDeviances.nonEmpty)
    val bestRound = model.validDeviances.zipWithIndex.minBy(_._1)._2 + 1
    assert(model.stages.size == bestRound,
      s"model must truncate at best validation round $bestRound, " +
        s"kept ${model.stages.size} of max ${params.maxIter}")
    assert(model.stages.size < params.maxIter,
      "early stopping must fire before maxIter on an overfitting run")
  }

  test("save/load round-trips to identical predictions") {
    val params = TweedieGbt.Params(maxIter = 8, stepSize = 0.2,
      maxDepth = 3, variancePower = 1.3)
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val dir = java.nio.file.Files.createTempDirectory("graft-tweedie").toString
    model.save(dir)
    val loaded = TweedieGbt.load(spark, dir)
    assert(loaded.f0 == model.f0 && loaded.stages.size == model.stages.size)
    val a = model.transform(demand, "mu").select("mu").as[Double].collect()
    val b = loaded.transform(demand, "mu").select("mu").as[Double].collect()
    assert(a.sameElements(b), "loaded model must predict identically")
  }

  test("determinism: same seed, same data -> identical models") {
    val params = TweedieGbt.Params(maxIter = 6, stepSize = 0.2,
      maxDepth = 3, variancePower = 1.3, subsamplingRate = 0.8)
    val m1 = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val m2 = TweedieGbt.fit(demand, "features", "y", "is_valid", params)
    val a = m1.transform(demand, "mu").select("mu").as[Double].collect()
    val b = m2.transform(demand, "mu").select("mu").as[Double].collect()
    assert(a.sameElements(b), "fixed-seed fits must agree run to run")
  }

  test("a histogram-path fit leaves nothing persisted") {
    demand.count()
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cached
    val model = TweedieGbt.fit(demand, "features", "y", "is_valid",
      TweedieGbt.Params(maxIter = 3, stepSize = 0.2, maxDepth = 3,
        variancePower = 1.3, histogram = true, checkpointInterval = 2))
    assert(model.isHistogram && model.stages.nonEmpty)
    val left = cached -- before
    assert(left.isEmpty,
      s"the materialized input and every round frame must be released: $left")
  }

  test("negative labels fail fast") {
    val bad = Seq((1.0, -1.0), (2.0, 3.0)).toDF("x1", "y")
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1")).setOutputCol("features").transform(bad)
      .withColumn("is_valid", lit(false))
    intercept[IllegalArgumentException] {
      TweedieGbt.fit(assembled, "features", "y", "is_valid",
        TweedieGbt.Params(maxIter = 2))
    }
  }
}

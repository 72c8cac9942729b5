package perfbench

import java.io.BufferedWriter
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.TextStyle
import java.util.Locale

import scala.util.Random

/** Seeded synthetic M5 inputs in the public CSV layouts: wide
  * `sales_train_evaluation.csv`, `calendar.csv` with sparse events and
  * SNAP flags, `sell_prices.csv` with a late first price week for some
  * items (the pipeline drops unpriced rows), and a
  * `sample_submission.csv` holding both `_validation` and `_evaluation`
  * ids. Demand is intermittent: per-item zero rate plus a weekly cycle.
  *
  * The test week is the last seven sales days, so each horizon week
  * `w` forecasts the seven days `7w` after it.
  */
final case class M5Gen(stores: Seq[String], items: Int, days: Int, weeks: Seq[Int],
    estimators: Int, maxDepth: Int, numLeaves: Int) {

  val start: LocalDate = LocalDate.of(2016, 1, 1)
  def date(d: Int): LocalDate = start.plusDays((d - 1).toLong)
  def itemId(i: Int): String = f"ITEM_$i%03d"

  /** Pipeline settings over the generated inputs: full.yaml's Tweedie
    * objective, sampling rates and leaf weight, with a small boosting
    * budget and shallow trees. */
  def config(inputDir: String, outputDir: String): Map[String, Any] = Map(
    "input_dir" -> inputDir,
    "output_dir" -> outputDir,
    "target_col" -> "units_sold",
    "pred_target_col" -> "pred_units_sold",
    "pred_date_col" -> "pred_date",
    "train_start_date" -> date(1).toString,
    "train_end_date" -> date(days - 7).toString,
    "test_start_date" -> date(days - 6).toString,
    "test_end_date" -> date(days).toString,
    "valid_num_days" -> 14,
    "store_list" -> java.util.List.of(stores: _*),
    "pred_week_list" -> java.util.List.of(weeks.map(Int.box): _*),
    "lgb_params" -> java.util.Map.of(
      "objective", "tweedie",
      "n_estimators", Int.box(estimators),
      "early_stopping_rounds", Int.box(estimators),
      "learning_rate", Double.box(0.1),
      "subsample", Double.box(0.8),
      "colsample_bytree", Double.box(0.8),
      "max_depth", Int.box(maxDepth),
      "num_leaves", Int.box(numLeaves),
      "min_child_weight", Int.box(300)),
    "cleanup_intermediates" -> "true")

  /** Predicted (id, day) cells one DAG run must produce. */
  def expectedPredictions: Int = stores.size * items * 7 * weeks.size

  def write(dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    Files.createDirectories(Paths.get(dir))
    def csv(name: String, header: String)(body: BufferedWriter => Unit): Unit = {
      val w = Files.newBufferedWriter(Paths.get(dir, name))
      try { w.write(header); w.write("\n"); body(w) } finally w.close()
    }
    val calendarDays = days + 7 * weeks.max
    def wmYrWk(d: Int): Int = 11601 + (d - 1) / 7

    // per-item demand shape and first priced week
    val zeroRate = Array.fill(items)(0.3 + 0.5 * r.nextDouble())
    val level = Array.fill(items)(1.0 + 4.0 * r.nextDouble())
    val firstWeek = Array.tabulate(items)(i => if (i % 5 == 0) 1 + r.nextInt(4) else 0)
    val basePrice = Array.fill(items)(1.0 + 9.0 * r.nextDouble())

    csv("sales_train_evaluation.csv",
        "id,item_id,dept_id,cat_id,store_id,state_id," +
          (1 to days).map(d => s"d_$d").mkString(",")) { w =>
      for (store <- stores; i <- 0 until items) {
        w.write(s"${itemId(i)}_${store}_evaluation,${itemId(i)},DEPT_${i % 3},CAT_${i % 2}," +
          s"$store,${store.take(2)}")
        (1 to days).foreach { d =>
          val weekly = 1.0 + 0.4 * math.sin(2 * math.Pi * d / 7.0)
          val u =
            if ((d - 1) / 7 < firstWeek(i) || r.nextDouble() < zeroRate(i)) 0
            else 1 + (r.nextDouble() * level(i) * weekly).toInt
          w.write(","); w.write(u.toString)
        }
        w.write("\n")
      }
    }

    csv("calendar.csv", "date,wm_yr_wk,weekday,wday,month,year,d,event_name_1," +
        "event_type_1,event_name_2,event_type_2,snap_CA,snap_TX,snap_WI") { w =>
      (1 to calendarDays).foreach { d =>
        val dt = date(d)
        val event =
          if (r.nextDouble() < 0.05) s"Event_$d,${Seq("Cultural", "National", "Sporting")(r.nextInt(3))}"
          else ","
        val snap = Seq.fill(3)(if (r.nextDouble() < 0.33) 1 else 0).mkString(",")
        w.write(s"$dt,${wmYrWk(d)},${dt.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US)}," +
          s"${dt.getDayOfWeek.getValue % 7 + 1},${dt.getMonthValue},${dt.getYear},d_$d,$event,,,$snap\n")
      }
    }

    val weekIds = (1 to calendarDays).map(wmYrWk).distinct
    csv("sell_prices.csv", "store_id,item_id,wm_yr_wk,sell_price") { w =>
      for (store <- stores; i <- 0 until items; (wk, k) <- weekIds.zipWithIndex
           if k >= firstWeek(i)) {
        val p = math.round(basePrice(i) * (1.0 + 0.1 * r.nextInt(3)) * 100).toDouble / 100
        w.write(s"$store,${itemId(i)},$wk,$p\n")
      }
    }

    val zeros = Seq.fill(28)("0").mkString(",")
    val ids = for (store <- stores; i <- 0 until items; kind <- Seq("evaluation", "validation"))
      yield s"${itemId(i)}_${store}_$kind"
    csv("sample_submission.csv", "id," + (1 to 28).map(k => s"F$k").mkString(",")) { w =>
      ids.sorted.foreach(id => w.write(s"$id,$zeros\n"))
    }
  }
}

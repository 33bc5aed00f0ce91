package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ml.GbdtScorer
import graft.nfl.XyacModel

/** The EPPA workload's inputs as inputs.py wrote them: the seeded plays'
  * tracking, games, plays and pre-play state, and the synthetic xyac
  * model's text dump. */
final case class Season(tracking: DataFrame, games: DataFrame, plays: DataFrame,
                        preState: DataFrame)

object Season {
  def read(spark: SparkSession, dir: String): Season = {
    def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    Season(t("tracking"), t("games"), t("plays"), t("pre_state"))
  }

  /** The model, through the library's own text-dump parser. */
  def model(dir: String): GbdtScorer.Model =
    GbdtScorer.parseFile(s"$dir/xyac_model.txt", XyacModel.FeatureNames, XyacModel.NumClasses)
}

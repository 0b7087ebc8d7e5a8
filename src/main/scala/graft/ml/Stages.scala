package graft.ml

import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.param.{Param, ParamMap, Params}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MLlib Pipeline packaging of the engine's ML surface — the north star's
  * "MLlib pipelines with custom transformers" (mirrors the reference's
  * sklearn Pipeline composition, gan.ipynb cell 2): the min-max scaler
  * (q20's semantics), the param-averaged GAN feature extractor (q29), and
  * an array→vector bridge so MLlib's own estimators (e.g. the
  * LogisticRegression transfer head, q31) compose downstream.
  *
  * Scale posture: fits are one treeAggregate / one distributed training
  * loop; transforms are per-row columnar expressions or a broadcast-model
  * map — nothing is collected to the driver beyond O(dim) stats or
  * O(params) weights.
  */
trait ArrayColParams extends Params {
  final val inputCol = new Param[String](this, "inputCol", "input array<double> column")
  final val outputCol = new Param[String](this, "outputCol", "output column")
  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  protected def withArrayOut(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)), s"missing input col ${$(inputCol)}")
    StructType(schema.fields :+
      StructField($(outputCol), ArrayType(DoubleType), nullable = true))
  }
}

/** Per-dimension min-max scaling of an array column to [0,1] (the
  * reference's /255 pixel normalization generalized): fit is one
  * treeAggregate producing O(dim) stats, transform is a codegen'd
  * higher-order-function projection against literal stat arrays.
  */
class ArrayMinMaxScaler(override val uid: String)
    extends Estimator[ArrayMinMaxScalerModel] with ArrayColParams {
  def this() = this(Identifiable.randomUID("arrayMinMax"))

  override def fit(ds: Dataset[_]): ArrayMinMaxScalerModel = {
    val rdd = ds.select(col($(inputCol)).cast("array<double>")).rdd
      .map(_.getSeq[Double](0).toArray)
    val dim = rdd.first().length
    val (mins, maxs) = ArrayMinMaxScaler.minMax(rdd, dim)
    copyValues(new ArrayMinMaxScalerModel(uid, mins, maxs).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = withArrayOut(schema)
  override def copy(extra: ParamMap): ArrayMinMaxScaler = defaultCopy(extra)
}

object ArrayMinMaxScaler {
  /** Elementwise (min, max) of `dim`-wide rows in one depth-2
    * treeAggregate: the fit of [[ArrayMinMaxScaler]] and of
    * [[Gan.scaled01]].
    */
  private[ml] def minMax(rows: RDD[Array[Double]], dim: Int): (Array[Double], Array[Double]) =
    rows.treeAggregate(
      (Array.fill(dim)(Double.MaxValue), Array.fill(dim)(Double.MinValue)))(
      seqOp = { case ((mn, mx), v) =>
        var i = 0
        while (i < dim) {
          if (v(i) < mn(i)) mn(i) = v(i)
          if (v(i) > mx(i)) mx(i) = v(i)
          i += 1
        }
        (mn, mx)
      },
      combOp = { case ((mn1, mx1), (mn2, mx2)) =>
        var i = 0
        while (i < dim) {
          if (mn2(i) < mn1(i)) mn1(i) = mn2(i)
          if (mx2(i) > mx1(i)) mx1(i) = mx2(i)
          i += 1
        }
        (mn1, mx1)
      }, depth = 2)
}

class ArrayMinMaxScalerModel(override val uid: String,
    val mins: Array[Double], val maxs: Array[Double])
    extends Model[ArrayMinMaxScalerModel] with ArrayColParams {

  override def transform(ds: Dataset[_]): DataFrame = {
    val minsLit = typedlit(mins)
    val rangesLit = typedlit(mins.indices.map(i => maxs(i) - mins(i)).toArray)
    // `functions.transform` qualified — the bare name resolves to
    // Model.transform in this scope
    ds.withColumn($(outputCol),
      org.apache.spark.sql.functions.transform(
        col($(inputCol)).cast("array<double>"), (x, i) => {
          val rng = element_at(rangesLit, i + 1)
          when(rng > 0d, (x - element_at(minsLit, i + 1)) / rng).otherwise(0.5)
        }))
  }

  override def transformSchema(schema: StructType): StructType = withArrayOut(schema)
  override def copy(extra: ParamMap): ArrayMinMaxScalerModel =
    copyValues(new ArrayMinMaxScalerModel(uid, mins, maxs).setParent(parent), extra)
}

/** Distributed param-averaged GAN feature extractor as an Estimator: fit
  * runs the adversarial loop (broadcast params down, batch-weighted copies
  * up and summed on the driver in partition order, so the fit is
  * bit-stable at any partition count; communication independent of row
  * count), the model maps rows through the frozen discriminator's hidden
  * layer.
  */
class GanFeatureEstimator(override val uid: String)
    extends Estimator[GanFeatureModel] with ArrayColParams {
  def this() = this(Identifiable.randomUID("ganFeatures"))

  final val config = new Param[Gan.Config](this, "config", "GAN trainer config")
  setDefault(config, Gan.Config())
  def setConfig(v: Gan.Config): this.type = set(config, v)

  override def fit(ds: Dataset[_]): GanFeatureModel = {
    val data = ds.select(col($(inputCol)).cast("array<double>").as("x")).toDF()
    val model = Gan.train(data, $(config))
    copyValues(new GanFeatureModel(uid, model).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = withArrayOut(schema)
  override def copy(extra: ParamMap): GanFeatureEstimator = defaultCopy(extra)
}

class GanFeatureModel(override val uid: String, val ganModel: Gan.Model)
    extends Model[GanFeatureModel] with ArrayColParams {

  override def transform(ds: Dataset[_]): DataFrame = {
    val m = ganModel // stable closure capture (O(params), shipped per task)
    val featUdf = udf((x: Seq[Double]) => m.disFeatures(x.toArray).toSeq)
    ds.withColumn($(outputCol), featUdf(col($(inputCol)).cast("array<double>")))
  }

  override def transformSchema(schema: StructType): StructType = withArrayOut(schema)
  override def copy(extra: ParamMap): GanFeatureModel =
    copyValues(new GanFeatureModel(uid, ganModel).setParent(parent), extra)
}

/** array<double> → MLlib Vector bridge so built-in estimators (the
  * LogisticRegression transfer head, PCA, KMeans) compose downstream of
  * the array-native stages.
  */
class ArrayToVector(override val uid: String)
    extends Transformer with ArrayColParams {
  def this() = this(Identifiable.randomUID("arrayToVector"))

  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(outputCol),
      org.apache.spark.ml.functions.array_to_vector(col($(inputCol)).cast("array<double>")))

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)), s"missing input col ${$(inputCol)}")
    StructType(schema.fields :+
      StructField($(outputCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType, nullable = true))
  }
  override def copy(extra: ParamMap): ArrayToVector = defaultCopy(extra)
}

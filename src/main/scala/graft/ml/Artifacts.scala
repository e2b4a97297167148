package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Fitted-ensemble bundle persistence (`snk_model_artifact`, SURVEY
  * §2.1): the reference bundles preproc + models with joblib + a TF
  * SavedModel (`train.py:91-102`); here every fitted model is plain
  * numbers, so the bundle is four small JSON files plus the profiles —
  * engine-portable, diff-able, no pickle/classloader coupling.
  */
object Artifacts {

  // -- minimal JSON (numbers/strings/arrays only — no deps) ------------

  private def jNum(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isInfinite) "\"Inf\"" else d.toString
  private def jStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def jArr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def savePreproc(m: PreprocModel, path: String): Unit = {
    val numeric = jArr(m.numeric.map { case (c, mean, std) =>
      s"""{"col":${jStr(c)},"mean":${jNum(mean)},"std":${jNum(std)}}""" })
    val cats = jArr(m.cats.map { case (c, vs) =>
      s"""{"col":${jStr(c)},"vocab":${jArr(vs.map(jStr))}}""" })
    write(path, s"""{"numeric":$numeric,"cats":$cats}""")
  }

  def savePca(m: PcaReconModel, path: String): Unit = {
    val comps = jArr(m.components.map(row => jArr(row.map(jNum))))
    write(path, s"""{"d":${m.d},"k":${m.k},"components":$comps}""")
  }

  def saveForest(m: IForestModel, path: String): Unit = {
    val trees = jArr(m.trees.map { t =>
      s"""{"feature":${jArr(t.feature.map(_.toString))},""" +
        s""""threshold":${jArr(t.threshold.map(jNum))},""" +
        s""""left":${jArr(t.left.map(_.toString))},""" +
        s""""right":${jArr(t.right.map(_.toString))},""" +
        s""""size":${jArr(t.size.map(_.toString))}}"""
    })
    write(path, s"""{"psi":${m.psi},"offset":${jNum(m.offset)},"trees":$trees}""")
  }

  def saveLofNovelty(m: LofNoveltyModel, path: String): Unit = {
    val pts = jArr(m.points.map(row => jArr(row.map(jNum))))
    write(path, s"""{"k":${m.k},"kdist":${jArr(m.kdist.map(jNum))},""" +
      s""""lrd":${jArr(m.lrd.map(jNum))},"points":$pts}""")
  }

  def loadLofNovelty(path: String): LofNoveltyModel = {
    val p = new P(read(path))
    p.objField("k"); val k = p.num().toInt
    p.objField("kdist"); val kd = p.arr(() => p.num()).toArray
    p.objField("lrd"); val lr = p.arr(() => p.num()).toArray
    p.objField("points"); val pts = p.arr(() => p.arr(() => p.num()).toArray).toArray
    LofNoveltyModel(pts, kd, lr, k)
  }

  /** Whole fitted-ensemble bundle: the four model JSONs + fusion meta +
    * the two profile tables as parquet. This is the production
    * train→serve handoff — `Ensemble.fit` once on the cluster, ship the
    * directory, `loadEnsemble` in the (possibly streaming) scorer.
    * The profiles are fitted state like the models (scoring looks them
    * up per row); parquet keeps their key and value types, and
    * `loadEnsemble` collects them again behind the same
    * `Profiles.ProfileRows` cap as the fit. */
  def saveEnsemble(spark: org.apache.spark.sql.SparkSession, f: Ensemble.Fitted,
                   dir: String): Unit = {
    savePreproc(f.preproc, s"$dir/preproc.json")
    savePca(f.pca, s"$dir/pca.json")
    saveForest(f.ifModel, s"$dir/forest.json")
    saveLofNovelty(f.lofNovelty, s"$dir/lof.json")
    val c = f.cfg
    write(s"$dir/meta.json",
      s"""{"aeThreshold":${jNum(f.aeThreshold)},"nTrees":${c.nTrees},""" +
        s""""subsample":${c.subsample},"contamination":${jNum(c.contamination)},""" +
        s""""pcaK":${c.pcaK},"lofK":${c.lofK},"lofRefPoints":${c.lofRefPoints},""" +
        s""""seed":${c.seed},"largeAmount":${jNum(c.largeAmount)},""" +
        s""""bigAmount":${jNum(c.bigAmount)},""" +
        s""""suspiciousChannel":${jStr(c.suspiciousChannel)},""" +
        s""""propsKeyThreshold":${c.propsKeyThreshold}}""")
    for ((name, p) <- Seq("cust_profile" -> f.profiles.cust, "merch_profile" -> f.profiles.merch))
      p.toDF(spark).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  def loadEnsemble(spark: org.apache.spark.sql.SparkSession, dir: String): Ensemble.Fitted = {
    val p = new P(read(s"$dir/meta.json"))
    p.objField("aeThreshold"); val aeThr = p.num()
    p.objField("nTrees"); val nTrees = p.num().toInt
    p.objField("subsample"); val subsample = p.num().toInt
    p.objField("contamination"); val contamination = p.num()
    p.objField("pcaK"); val pcaK = p.num().toInt
    p.objField("lofK"); val lofK = p.num().toInt
    p.objField("lofRefPoints"); val lofRefPoints = p.num().toInt
    p.objField("seed"); val seed = p.num().toLong
    p.objField("largeAmount"); val largeAmount = p.num()
    p.objField("bigAmount"); val bigAmount = p.num()
    p.objField("suspiciousChannel"); val suspiciousChannel = p.str()
    p.objField("propsKeyThreshold"); val propsKeyThreshold = p.num().toInt
    val cfg = Ensemble.Config(nTrees, subsample, contamination, pcaK, lofK,
      lofRefPoints, seed, largeAmount, bigAmount, suspiciousChannel, propsKeyThreshold)
    def profile(name: String) = graft.operators.Profiles.collectProfile(
      name, spark.read.parquet(s"$dir/$name.parquet"))
    Ensemble.Fitted(
      loadPreproc(s"$dir/preproc.json"),
      loadForest(s"$dir/forest.json"),
      loadPca(s"$dir/pca.json"),
      aeThr,
      loadLofNovelty(s"$dir/lof.json"),
      Features.EventProfiles(profile("cust_profile"), profile("merch_profile")),
      cfg)
  }

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  // -- loaders (tiny recursive-descent JSON, enough for our artifacts) --

  private final class P(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { ws(); require(s.charAt(i) == c, s"want $c at $i"); i += 1 }
    def peek: Char = { ws(); s.charAt(i) }
    def str(): String = {
      expect('"'); val b = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => b += '\n'; case 'u' =>
              b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => b += c
          }
        } else b += s.charAt(i)
        i += 1
      }
      i += 1; b.toString
    }
    def num(): Double = {
      ws()
      if (peek == '"') str() match {
        case "NaN" => Double.NaN; case "Inf" => Double.PositiveInfinity
        case o => o.toDouble
      } else {
        val start = i
        while (i < s.length && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        s.substring(start, i).toDouble
      }
    }
    def arr[T](elem: () => T): Seq[T] = {
      expect('['); val b = Seq.newBuilder[T]
      if (peek != ']') { b += elem(); while (peek == ',') { i += 1; b += elem() } }
      expect(']'); b.result()
    }
    def objField(name: String): Unit = { // positional: expects "name":
      ws(); if (peek == '{' || peek == ',') i += 1
      val got = str(); require(got == name, s"want $name got $got"); expect(':')
    }
  }

  def loadPreproc(path: String): PreprocModel = {
    val p = new P(read(path))
    p.objField("numeric")
    val numeric = p.arr { () =>
      p.objField("col"); val c = p.str()
      p.objField("mean"); val m = p.num()
      p.objField("std"); val s = p.num()
      p.expect('}'); (c, m, s)
    }
    p.objField("cats")
    val cats = p.arr { () =>
      p.objField("col"); val c = p.str()
      p.objField("vocab"); val vs = p.arr(() => p.str())
      p.expect('}'); (c, vs)
    }
    PreprocModel(numeric, cats)
  }

  def loadPca(path: String): PcaReconModel = {
    val p = new P(read(path))
    p.objField("d"); val d = p.num().toInt
    p.objField("k"); val k = p.num().toInt
    p.objField("components")
    val comps = p.arr(() => p.arr(() => p.num()).toArray).toArray
    PcaReconModel(comps, d, k)
  }

  def loadForest(path: String): IForestModel = {
    val p = new P(read(path))
    p.objField("psi"); val psi = p.num().toInt
    p.objField("offset"); val off = p.num()
    p.objField("trees")
    val trees = p.arr { () =>
      p.objField("feature"); val f = p.arr(() => p.num().toInt).toArray
      p.objField("threshold"); val t = p.arr(() => p.num()).toArray
      p.objField("left"); val l = p.arr(() => p.num().toInt).toArray
      p.objField("right"); val r = p.arr(() => p.num().toInt).toArray
      p.objField("size"); val sz = p.arr(() => p.num().toInt).toArray
      p.expect('}'); ITree(f, t, l, r, sz)
    }.toArray
    IForestModel(trees, psi, off)
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
}

package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The reference's augmentation-kernel library (SURVEY.md §2.4, from
  * `dataset_preprocessing.py`) re-implemented as JVM image math over
  * float planes, exposed as fused Scala UDFs.
  *
  * Reference semantics preserved:
  *  - decode → float [0,1] (F5, `dataset_preprocessing.py:189-190`)
  *  - train path: random bbox crop (F4, constraints: area 0.05–1.0,
  *    aspect 0.75–1.33, ≤100 attempts, `:141-148`) → resize (F6) →
  *    random horizontal flip (F7, `:222`) → color jitter in one of the
  *    reference's orderings (F1/F2, `:26-96`) → clip (F3) → normalize to
  *    [-1,1] (F8, `:232-233`)
  *  - eval path: central crop 0.875 (F9, `:264-265`) → bilinear resize
  *    (F10) — and NO [-1,1] normalize: the reference intentionally leaves
  *    eval output in [0,1] (`:273-274`); preserved here (SURVEY §7 hard
  *    part #5).
  *
  * Randomness: every stochastic kernel takes an explicit 64-bit seed and
  * draws from a per-record `java.util.Random(seed)` — the "hash-seeded
  * RNG" utility (SURVEY §7), so results are reproducible under task
  * retries regardless of partitioning. Seeds come from md5-derived row
  * keys (graft.Tables.hashU32), never from partition-dependent rand().
  *
  * Layout: images are row-major float planes `Array[Float]` of length
  * h*w*c with pixel (y, x, ch) at [(y*w + x)*c + ch].
  */
object ImageKernels {

  // every image stream here is an in-memory ByteArray*Stream, which
  // ImageIO's default disk cache would still back with a temp file
  // (JVM-wide setting, made once when the kernels load in a JVM)
  ImageIO.setUseCache(false)

  final case class Img(data: Array[Float], h: Int, w: Int, c: Int) {
    def apply(y: Int, x: Int, ch: Int): Float = data((y * w + x) * c + ch)
  }

  /** S3/K4: decode an encoded PNG/JPEG blob to a float [0,1] image. */
  def decode(bytes: Array[Byte]): Img = {
    val bi = ImageIO.read(new ByteArrayInputStream(bytes))
    require(bi != null, "undecodable image bytes")
    val (h, w) = (bi.getHeight, bi.getWidth)
    val out = new Array[Float](h * w * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = bi.getRGB(x, y)
        val base = (y * w + x) * 3
        out(base) = ((rgb >> 16) & 0xff) / 255f
        out(base + 1) = ((rgb >> 8) & 0xff) / 255f
        out(base + 2) = (rgb & 0xff) / 255f
        x += 1
      }
      y += 1
    }
    Img(out, h, w, 3)
  }

  /** S3 (grayscale variant): decode to a 1-channel [0,1] plane — the
    * tutorial's MNIST-PNG path (`CNN_#5_datapipeline_tutorial.ipynb`
    * cell 6, `decode_png(channels=1)`). Grayscale sources read their
    * raster directly; color sources reduce with the ITU-R 601 luma that
    * TF's `rgb_to_grayscale` applies. */
  def decodeGray(bytes: Array[Byte]): Img = {
    val bi = ImageIO.read(new ByteArrayInputStream(bytes))
    require(bi != null, "undecodable image bytes")
    val (h, w) = (bi.getHeight, bi.getWidth)
    val out = new Array[Float](h * w)
    val gray = bi.getColorModel.getNumComponents == 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(y * w + x) =
          if (gray) bi.getRaster.getSample(x, y, 0) / 255f
          else {
            val rgb = bi.getRGB(x, y)
            (0.299f * ((rgb >> 16) & 0xff) + 0.587f * ((rgb >> 8) & 0xff) +
              0.114f * (rgb & 0xff)) / 255f
          }
        x += 1
      }
      y += 1
    }
    Img(out, h, w, 1)
  }

  /** K4: decode only the (height, width) header — the dims probe of
    * `make_tf_record.py:21-23`, without materializing pixels. */
  def dims(bytes: Array[Byte]): (Int, Int) = {
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, "unknown image format")
      val r = readers.next()
      r.setInput(in)
      val d = (r.getHeight(0), r.getWidth(0))
      r.dispose()
      d
    } finally in.close()
  }

  /** F6/F10: bilinear resize. */
  def resizeBilinear(img: Img, oh: Int, ow: Int): Img = {
    val out = new Array[Float](oh * ow * img.c)
    val sy = if (oh == 1) 0f else (img.h - 1).toFloat / (oh - 1)
    val sx = if (ow == 1) 0f else (img.w - 1).toFloat / (ow - 1)
    var y = 0
    while (y < oh) {
      val fy = y * sy
      val y0 = math.min(fy.toInt, img.h - 1)
      val y1 = math.min(y0 + 1, img.h - 1)
      val wy = fy - y0
      var x = 0
      while (x < ow) {
        val fx = x * sx
        val x0 = math.min(fx.toInt, img.w - 1)
        val x1 = math.min(x0 + 1, img.w - 1)
        val wx = fx - x0
        var ch = 0
        while (ch < img.c) {
          val v = img(y0, x0, ch) * (1 - wy) * (1 - wx) +
            img(y1, x0, ch) * wy * (1 - wx) +
            img(y0, x1, ch) * (1 - wy) * wx +
            img(y1, x1, ch) * wy * wx
          out((y * ow + x) * img.c + ch) = v
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    Img(out, oh, ow, img.c)
  }

  /** F6 (nearest, TF method 1): source index = floor(y·h/oh), clamped —
    * TF1 `ResizeNearestNeighbor` with align_corners=false. */
  def resizeNearest(img: Img, oh: Int, ow: Int): Img = {
    val out = new Array[Float](oh * ow * img.c)
    val sy = img.h.toFloat / oh
    val sx = img.w.toFloat / ow
    var y = 0
    while (y < oh) {
      val yi = math.min((y * sy).toInt, img.h - 1)
      var x = 0
      while (x < ow) {
        val xi = math.min((x * sx).toInt, img.w - 1)
        var ch = 0
        while (ch < img.c) {
          out((y * ow + x) * img.c + ch) = img(yi, xi, ch)
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    Img(out, oh, ow, img.c)
  }

  /** Keys cubic convolution weight, A = -0.75 (the TF/OpenCV kernel). */
  private def cubicWeight(t: Double): Double = {
    val A = -0.75
    val at = math.abs(t)
    if (at <= 1) (A + 2) * at * at * at - (A + 3) * at * at + 1
    else if (at < 2) A * (at * at * at - 5 * at * at + 8 * at - 4)
    else 0.0
  }

  /** F6 (bicubic, TF method 2): 4×4 Keys-kernel convolution, edge-
    * clamped, weight-normalized, result clipped to [0,1] (cubic
    * overshoot would otherwise leak outside the pipeline's pixel
    * domain; downstream kernels assume [0,1]). Same align-corners
    * source mapping as [[resizeBilinear]], so an identity-size resize
    * is exact. */
  def resizeBicubic(img: Img, oh: Int, ow: Int): Img = {
    val out = new Array[Float](oh * ow * img.c)
    val sy = if (oh == 1) 0.0 else (img.h - 1).toDouble / (oh - 1)
    val sx = if (ow == 1) 0.0 else (img.w - 1).toDouble / (ow - 1)
    var y = 0
    while (y < oh) {
      val fy = y * sy
      val y0 = math.floor(fy).toInt
      var x = 0
      while (x < ow) {
        val fx = x * sx
        val x0 = math.floor(fx).toInt
        var ch = 0
        while (ch < img.c) {
          var acc = 0.0
          var wsum = 0.0
          var j = -1
          while (j <= 2) {
            val yy = math.min(math.max(y0 + j, 0), img.h - 1)
            val wy = cubicWeight(fy - (y0 + j))
            var i = -1
            while (i <= 2) {
              val xx = math.min(math.max(x0 + i, 0), img.w - 1)
              val wgt = wy * cubicWeight(fx - (x0 + i))
              acc += wgt * img(yy, xx, ch)
              wsum += wgt
              i += 1
            }
            j += 1
          }
          out((y * ow + x) * img.c + ch) = clip01((acc / wsum).toFloat)
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    Img(out, oh, ow, img.c)
  }

  /** F6 (area, TF method 3): each output pixel is the mean of its
    * source box with fractional edge coverage. */
  def resizeArea(img: Img, oh: Int, ow: Int): Img = {
    val out = new Array[Float](oh * ow * img.c)
    val sy = img.h.toDouble / oh
    val sx = img.w.toDouble / ow
    var y = 0
    while (y < oh) {
      val yLo = y * sy
      val yHi = (y + 1) * sy
      var x = 0
      while (x < ow) {
        val xLo = x * sx
        val xHi = (x + 1) * sx
        var ch = 0
        while (ch < img.c) {
          var acc = 0.0
          var area = 0.0
          var yy = math.floor(yLo).toInt
          while (yy < math.ceil(yHi).toInt) {
            val cy = math.min(yHi, yy + 1.0) - math.max(yLo, yy.toDouble)
            var xx = math.floor(xLo).toInt
            while (xx < math.ceil(xHi).toInt) {
              val cx = math.min(xHi, xx + 1.0) - math.max(xLo, xx.toDouble)
              val wgt = cy * cx
              acc += wgt *
                img(math.min(yy, img.h - 1), math.min(xx, img.w - 1), ch)
              area += wgt
              xx += 1
            }
            yy += 1
          }
          out((y * ow + x) * img.c + ch) = (acc / area).toFloat
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    Img(out, oh, ow, img.c)
  }

  /** F6 router: the reference draws 1 of 4 interpolation methods per
    * sample outside fast_mode (`dataset_preprocessing.py:212-216`; TF
    * enum order 0=bilinear, 1=nearest, 2=bicubic, 3=area). */
  def resizeMethod(img: Img, method: Int, oh: Int, ow: Int): Img =
    method match {
      case 0 => resizeBilinear(img, oh, ow)
      case 1 => resizeNearest(img, oh, ow)
      case 2 => resizeBicubic(img, oh, ow)
      case _ => resizeArea(img, oh, ow)
    }

  /** Crop the window [y0, y0+ch) × [x0, x0+cw). */
  def crop(img: Img, y0: Int, x0: Int, chh: Int, cww: Int): Img = {
    val out = new Array[Float](chh * cww * img.c)
    var y = 0
    while (y < chh) {
      System.arraycopy(img.data, ((y0 + y) * img.w + x0) * img.c,
        out, y * cww * img.c, cww * img.c)
      y += 1
    }
    Img(out, chh, cww, img.c)
  }

  /** F9: deterministic central crop keeping `frac` of each dimension. */
  def centralCrop(img: Img, frac: Double): Img = {
    val chh = math.max(1, math.round(img.h * frac).toInt)
    val cww = math.max(1, math.round(img.w * frac).toInt)
    crop(img, (img.h - chh) / 2, (img.w - cww) / 2, chh, cww)
  }

  /** F7: horizontal mirror. */
  def flipLeftRight(img: Img): Img = {
    val out = new Array[Float](img.data.length)
    var y = 0
    while (y < img.h) {
      var x = 0
      while (x < img.w) {
        var ch = 0
        while (ch < img.c) {
          out((y * img.w + x) * img.c + ch) = img(y, img.w - 1 - x, ch)
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    Img(out, img.h, img.w, img.c)
  }

  /** F4: random bounding-box crop with the reference's sampler
    * constraints — rejection-sample a window with area in
    * [minArea, 1.0]·(h·w) and aspect in [0.75, 1.33], ≤100 attempts,
    * whole image on failure. */
  def randomCrop(img: Img, rng: java.util.Random,
      minArea: Double = 0.05): Img = {
    val area = img.h.toDouble * img.w
    var attempt = 0
    while (attempt < 100) {
      val targetArea = (minArea + (1.0 - minArea) * rng.nextDouble()) * area
      val aspect = 0.75 + rng.nextDouble() * (1.33 - 0.75)
      val cww = math.sqrt(targetArea * aspect).round.toInt
      val chh = math.sqrt(targetArea / aspect).round.toInt
      if (cww >= 1 && chh >= 1 && cww <= img.w && chh <= img.h) {
        val y0 = if (chh == img.h) 0 else rng.nextInt(img.h - chh + 1)
        val x0 = if (cww == img.w) 0 else rng.nextInt(img.w - cww + 1)
        return crop(img, y0, x0, chh, cww)
      }
      attempt += 1
    }
    img
  }

  /** F2 primitives: brightness/saturation/hue/contrast jitter over HSB
    * (java.awt.Color), each clipped to [0,1] (F3). */
  def adjustBrightness(img: Img, delta: Float): Img =
    mapPixels(img)(v => clip01(v + delta))

  def adjustContrast(img: Img, factor: Float): Img = {
    val means = new Array[Float](img.c)
    var i = 0
    while (i < img.data.length) {
      means(i % img.c) += img.data(i); i += 1
    }
    val n = img.h * img.w
    var ch = 0
    while (ch < img.c) { means(ch) /= n; ch += 1 }
    val out = new Array[Float](img.data.length)
    i = 0
    while (i < img.data.length) {
      out(i) = clip01(means(i % img.c) + (img.data(i) - means(i % img.c)) * factor)
      i += 1
    }
    Img(out, img.h, img.w, img.c)
  }

  def adjustSaturationHue(img: Img, satFactor: Float, hueDelta: Float): Img = {
    require(img.c == 3)
    val out = new Array[Float](img.data.length)
    var p = 0
    while (p < img.h * img.w) {
      val r = img.data(p * 3); val g = img.data(p * 3 + 1); val b = img.data(p * 3 + 2)
      val hsb = java.awt.Color.RGBtoHSB(
        (r * 255).round.toInt, (g * 255).round.toInt, (b * 255).round.toInt, null)
      val h = (hsb(0) + hueDelta + 1f) % 1f
      val s = clip01(hsb(1) * satFactor)
      val rgb = java.awt.Color.HSBtoRGB(h, s, hsb(2))
      out(p * 3) = ((rgb >> 16) & 0xff) / 255f
      out(p * 3 + 1) = ((rgb >> 8) & 0xff) / 255f
      out(p * 3 + 2) = (rgb & 0xff) / 255f
      p += 1
    }
    Img(out, img.h, img.w, img.c)
  }

  /** F1+F2: color distortion with the ordering selected by the drawn
    * branch — fast_mode uses the reference's 2-op orderings. */
  def distortColor(img: Img, rng: java.util.Random,
      fastMode: Boolean = true): Img = {
    val branch = rng.nextInt(if (fastMode) 2 else 4)
    def bright(i: Img) = adjustBrightness(i, (rng.nextFloat() * 2 - 1) * 32f / 255f)
    def sat(i: Img) = adjustSaturationHue(i, 0.5f + rng.nextFloat(), 0f)
    def hue(i: Img) = adjustSaturationHue(i, 1f, (rng.nextFloat() * 2 - 1) * 0.2f)
    def contr(i: Img) = adjustContrast(i, 0.5f + rng.nextFloat())
    val ordered: Seq[Img => Img] =
      if (fastMode) {
        if (branch == 0) Seq(bright _, sat _) else Seq(sat _, bright _)
      } else branch match {
        case 0 => Seq(bright _, sat _, hue _, contr _)
        case 1 => Seq(sat _, bright _, contr _, hue _)
        case 2 => Seq(contr _, hue _, bright _, sat _)
        case _ => Seq(hue _, sat _, contr _, bright _)
      }
    ordered.foldLeft(img)((acc, f) => f(acc))
  }

  /** F8: [0,1] → [-1,1] (train path only). */
  def normalize(img: Img): Img = mapPixels(img)(v => (v - 0.5f) * 2f)

  private def mapPixels(img: Img)(f: Float => Float): Img = {
    val out = new Array[Float](img.data.length)
    var i = 0
    while (i < img.data.length) { out(i) = f(img.data(i)); i += 1 }
    Img(out, img.h, img.w, img.c)
  }

  def clip01(v: Float): Float = math.min(1f, math.max(0f, v))

  /** F11: fused train kernel — decode → random crop → resize → random
    * flip → color distort → normalize, all under one hash-derived seed.
    * ONE UDF per row: no intermediate row materialization, the Spark
    * analogue of the reference's fused map stage (SURVEY §4 item 2a). */
  def preprocessForTrain(encoded: Array[Byte], seed: Long, outH: Int,
      outW: Int, fastMode: Boolean = true): Array[Float] = {
    val rng = new java.util.Random(seed)
    val img = decode(encoded)
    val cropped = randomCrop(img, rng)
    // F6: outside fast_mode the resize method is itself a random draw
    // (1-of-4, dataset_preprocessing.py:212-216); fast_mode pins
    // bilinear and draws nothing, keeping its RNG sequence unchanged
    val method = if (fastMode) 0 else rng.nextInt(4)
    val resized = resizeMethod(cropped, method, outH, outW)
    val flipped = if (rng.nextBoolean()) flipLeftRight(resized) else resized
    val colored = distortColor(flipped, rng, fastMode)
    normalize(colored).data
  }

  /** F12: fused eval kernel — decode → central crop 0.875 → resize;
    * stays in [0,1] (reference keeps eval un-normalized). */
  def preprocessForEval(encoded: Array[Byte], outH: Int,
      outW: Int): Array[Float] = {
    val img = decode(encoded)
    resizeBilinear(centralCrop(img, 0.875), outH, outW).data
  }

  /** Deterministic synthetic PNG: pixel (y,x) is a Knuth-hash of
    * (seed, y, x). Stands in for on-disk corpora in pipelines exercising
    * the full encode→decode→kernel path where the test tables have no
    * image payloads (multimodal pattern, SURVEY §7 M7d). */
  def synthPng(seed: Long, h: Int, w: Int): Array[Byte] = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (seed * 1000003L + y * 131L + x) * 2654435761L
        bi.setRGB(x, y, (v >>> 16).toInt & 0xffffff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  /** Grayscale twin of [[synthPng]] (TYPE_BYTE_GRAY raster) — exercises
    * the 1-channel decode path without on-disk fixtures. */
  def synthPngGray(seed: Long, h: Int, w: Int): Array[Byte] = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = bi.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (seed * 1000003L + y * 131L + x) * 2654435761L
        raster.setSample(x, y, 0, ((v >>> 16) & 0xff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  // —— Column-level API (F13 dispatcher happens at plan time, P5) ——

  val synthPngUdf = udf((seed: Long, h: Int, w: Int) => synthPng(seed, h, w))

  /** Smooth deterministic test image: a seed-derived bilinear corner
    * ramp, one seed-oriented low-frequency sinusoid (≤1.6 cycles across
    * the frame — the diversity source: orientation/phase/frequency vary
    * per seed so different seeds get genuinely different structure),
    * plus three seed-placed radial blobs. [[synthPng]] is pixel NOISE —
    * fine for decode/round-trip tests, useless for perceptual hashing
    * (no stable gradients survive a resize). This one has the
    * low-frequency structure real photos do, so [[dHash64]] is stable
    * under rescaling of the SAME image and far for different seeds.
    * Use sizes ≥ ~48×48: each dHash grid cell then averages ≥ ~25
    * source pixels, which is what keeps cell means (and so the hash)
    * stable across resolutions. */
  def synthPngSmooth(seed: Long, h: Int, w: Int): Array[Byte] = {
    def p(i: Long): Long = ((seed * 1000003L + i) * 2654435761L) >>> 33
    val c00 = (p(0) % 256).toDouble; val c01 = (p(1) % 256).toDouble
    val c10 = (p(2) % 256).toDouble; val c11 = (p(3) % 256).toDouble
    val theta = (p(4) % 360) * math.Pi / 180.0
    val phase = (p(5) % 628) / 100.0
    val freq = 0.7 + (p(6) % 90) / 100.0
    val blobs = (0 until 3).map { k =>
      (p(10 + k) % w, p(20 + k) % h, (p(30 + k) % 171).toDouble - 85.0,
        2.0 + (p(40 + k) % math.max(2, math.max(h, w) / 2)).toDouble)
    }
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val fy = if (h > 1) y.toDouble / (h - 1) else 0.0
        val fx = if (w > 1) x.toDouble / (w - 1) else 0.0
        var v = c00 * (1 - fy) * (1 - fx) + c01 * (1 - fy) * fx +
          c10 * fy * (1 - fx) + c11 * fy * fx
        val u = fx * math.cos(theta) + fy * math.sin(theta)
        v += 40.0 * math.sin(2 * math.Pi * freq * u + phase)
        for ((bx, by, amp, r) <- blobs) {
          val d2 = (x - bx) * (x - bx) + (y - by) * (y - by)
          v += amp * math.exp(-d2 / (r * r))
        }
        val g = math.max(0, math.min(255, math.round(v).toInt))
        bi.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  /** Perceptual difference hash (dHash): luma plane → 8×9 area resize
    * → contrast normalization → one bit per quantized horizontal
    * gradient sign (bit r·8+c = 1 iff q(g(r,c+1)) > q(g(r,c))).
    * 64 bits; robust to rescaling (the resize normalizes dimensions
    * away), cheap enough for 100 TB (one kernel call per image, then
    * near-dup search is the s14 banded Hamming machinery on the
    * resulting longs).
    *
    * Two stability tricks, both required:
    *  - quantize BEFORE comparing (the blockhash trick): in flat
    *    regions the raw cell means differ by resize jitter only — a
    *    strict float > would flip those bits on every rescale; after
    *    quantization both sides land on the same level and the bit is
    *    stably 0. Real edges (> one step) keep their sign.
    *  - quantize in units of the GRID's OWN std (0.25·σ steps), not
    *    absolute luma: a fixed absolute step (the old 1/24-luma
    *    design) collapses every low-contrast image to hash 0 (no
    *    separation) while being needlessly jitter-sensitive on
    *    high-contrast ones. Resize jitter scales with image contrast,
    *    so a σ-relative step gives a resolution-robust, contrast-
    *    invariant margin on both kinds of image.
    * Measured margins (ImageKernelsSpec m6 suite, 64×64 vs 45×53
    * rescale): same-image Hamming ≤ 2, cross-image ≥ 9 — comfortably
    * inside the 8-band × 8-bit banding's d<8 recall guarantee. */
  def dHash64(img: Img): Long = {
    val gray = if (img.c == 1) img else {
      val g = new Array[Float](img.h * img.w)
      var i = 0
      while (i < img.h * img.w) {
        g(i) = (img.data(3 * i) + img.data(3 * i + 1) +
          img.data(3 * i + 2)) / 3f
        i += 1
      }
      Img(g, img.h, img.w, 1)
    }
    val rs = resizeArea(gray, 8, 9)
    val n = 72
    var mean = 0.0
    var i = 0
    while (i < n) { mean += rs.data(i); i += 1 }
    mean /= n
    var varSum = 0.0
    i = 0
    while (i < n) {
      val d = rs.data(i) - mean; varSum += d * d; i += 1
    }
    val std = math.sqrt(varSum / n).max(1e-6)
    def q(v: Float): Int = math.floor((v - mean) / std / 0.25).toInt
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (q(rs(r, c + 1, 0)) > q(rs(r, c, 0))) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Non-overlapping p×p patch extraction — the ViT input path
    * (image → sequence of flattened patches). Patches are emitted
    * row-major (patch (0,0), (0,1), …), each flattened channel-last
    * ((y, x, c) order within the patch) — the layout
    * `einops.rearrange('(hp p1) (wp p2) c -> (hp wp) (p1 p2 c)')`
    * produces and every ViT implementation consumes. Exact float
    * copies, no arithmetic: [[unpatchify]] reconstructs the image
    * bit-for-bit (golden-tested), so the patch pipeline is loss-free
    * by construction. */
  def patchify(img: Img, p: Int): Array[Array[Float]] = {
    require(p > 0 && img.h % p == 0 && img.w % p == 0,
      s"patch $p must divide ${img.h}x${img.w} (resize first)")
    val (hp, wp) = (img.h / p, img.w / p)
    val out = new Array[Array[Float]](hp * wp)
    var py = 0
    while (py < hp) {
      var px = 0
      while (px < wp) {
        val patch = new Array[Float](p * p * img.c)
        var y = 0
        while (y < p) {
          var x = 0
          while (x < p) {
            var c = 0
            while (c < img.c) {
              patch((y * p + x) * img.c + c) =
                img(py * p + y, px * p + x, c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        out(py * wp + px) = patch
        px += 1
      }
      py += 1
    }
    out
  }

  /** Inverse of [[patchify]] — exact reconstruction. */
  def unpatchify(patches: Array[Array[Float]], h: Int, w: Int, c: Int,
      p: Int): Img = {
    require(patches.length == (h / p) * (w / p),
      s"${patches.length} patches cannot tile ${h}x$w at $p")
    val wp = w / p
    val data = new Array[Float](h * w * c)
    var i = 0
    while (i < patches.length) {
      val (py, px) = (i / wp, i % wp)
      var y = 0
      while (y < p) {
        var x = 0
        while (x < p) {
          var ch = 0
          while (ch < c) {
            data(((py * p + y) * w + (px * p + x)) * c + ch) =
              patches(i)((y * p + x) * c + ch)
            ch += 1
          }
          x += 1
        }
        y += 1
      }
      i += 1
    }
    Img(data, h, w, c)
  }

  /** Per-patch micro-quantized means of a decoded image — the m7
    * census kernel (deterministic Longs, order = patch row-major). */
  val patchMeansUdf = udf((enc: Array[Byte], p: Int) => {
    val img = decode(enc)
    patchify(img, p).map(patch =>
      math.round(patch.map(_.toDouble).sum / patch.length * 1e6))
  })

  val synthPngSmoothUdf =
    udf((seed: Long, h: Int, w: Int) => synthPngSmooth(seed, h, w))
  /** dHash of an encoded image, optionally through a pre-resize (the
    * "same photo, different resolution" path when oh/ow differ from
    * the stored dims). */
  val dhashUdf = udf((enc: Array[Byte], oh: Int, ow: Int) => {
    val img = decode(enc)
    dHash64(if (oh == img.h && ow == img.w) img
      else resizeArea(img, oh, ow))
  })

  val trainKernelUdf =
    udf((enc: Array[Byte], seed: Long, h: Int, w: Int) =>
      preprocessForTrain(enc, seed, h, w))
  /** Full-mode train kernel (F6 4-way resize draw + 4-ordering color). */
  val trainKernelFullUdf =
    udf((enc: Array[Byte], seed: Long, h: Int, w: Int) =>
      preprocessForTrain(enc, seed, h, w, fastMode = false))
  val evalKernelUdf =
    udf((enc: Array[Byte], h: Int, w: Int) => preprocessForEval(enc, h, w))
  val dimsUdf = udf((enc: Array[Byte]) => {
    val (h, w) = dims(enc); Array(h, w)
  })

  def trainKernel(encoded: Column, seed: Column, h: Column, w: Column): Column =
    trainKernelUdf(encoded, seed, h, w)
  def evalKernel(encoded: Column, h: Column, w: Column): Column =
    evalKernelUdf(encoded, h, w)
}

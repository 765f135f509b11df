package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ExprKernels

/** Per-call cost of the engine's expression kernels (`ExprKernels`),
  * outside any plan: each kernel runs over every `documents.text` row (or
  * every `embeddings.embedding` row), three rounds after one warm round;
  * the median round gives µs per call. */
object KernelProbe {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val texts = graft.Tables(spark, ctx.dataDir, "documents").select($"text").as[String]
      .collect().map(UTF8String.fromString)
    val vecs: Array[ArrayData] = graft.Tables(spark, ctx.dataDir, "embeddings")
      .select($"embedding").as[Array[Float]].collect().map(UnsafeArrayData.fromPrimitiveArray)
    val toks = texts.map(ExprKernels.tokens)
    val shingles = texts.map(ExprKernels.shingles3)
    val sigs = shingles.map(ExprKernels.minHashSigs(_, 16))
    var sink = 0L

    def time(name: String, n: Int)(f: Int => Any): Unit = {
      def round(): Double = {
        val t = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i).hashCode(); i += 1 }
        (System.nanoTime() - t) / 1e3 / n
      }
      round()
      val us = Seq.fill(3)(round()).sorted.apply(1)
      ctx.out.rec("kernel", "name" -> name, "us" -> us, "calls" -> n)
    }

    val nt = texts.length
    val nv = vecs.length
    time("nfc", nt)(i => ExprKernels.nfc(texts(i)))
    time("tokens", nt)(i => ExprKernels.tokens(texts(i)))
    time("shingles3", nt)(i => ExprKernels.shingles3(texts(i)))
    time("minHashSigs", nt)(i => ExprKernels.minHashSigs(shingles(i), 16))
    time("bandHashes", nt)(i => ExprKernels.bandHashes(sigs(i), 4, 4))
    time("repMetrics", nt)(i => ExprKernels.repMetrics(toks(i)))
    time("simHash", nt)(i => ExprKernels.simHash(toks(i), 64))
    time("lshBucket", nv)(i => ExprKernels.lshBucket(vecs(i), 16))
    time("rpProject", nv)(i => ExprKernels.rpProject(vecs(i), 16))
    time("doubleDot", nv)(i => ExprKernels.doubleDot(vecs(i), vecs((i + 1) % nv)))
    time("decimalDot", nv)(i => ExprKernels.decimalDot(vecs(i), vecs((i + 1) % nv)))
    ctx.out.rec("kernel_sink", "value" -> sink)
  }
}

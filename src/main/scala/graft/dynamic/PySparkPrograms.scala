package graft.dynamic

/** Canned PySpark program sources shared between the correctness gates
  * (EngineQueries) and the specs (PySparkSpec) — one copy so the gate
  * and the cross-language equivalence test can never drift apart.
  */
object PySparkPrograms {

  /** Vectorized pandas/numpy P6 decode over a binary media column via
    * mapInPandas (the Arrow batch path) — the training-data brief's
    * multimodal feature-extract shape, with the decode REAL (P6 needs
    * no codec library) and the SAME integer BT.601 luma
    * (299·R + 587·G + 114·B) as the pure-JVM decoder
    * (Multimodal.decodePpm), so the two implementations are
    * cross-checkable bit-for-bit. Macros: `${input.path}` (parquet of
    * doc_id, payload) and `${output.path}`.
    */
  val pandasPpmDecode: String =
    """from pyspark import SparkContext
      |from pyspark.sql import SparkSession
      |import numpy as np
      |import pandas as pd
      |
      |def parse_p6(b):
      |    if not b.startswith(b'P6'):
      |        return None
      |    pos, n, toks = 2, len(b), []
      |    while len(toks) < 3 and pos < n:
      |        while pos < n and b[pos:pos+1].isspace():
      |            pos += 1
      |        if pos < n and b[pos:pos+1] == b'#':
      |            while pos < n and b[pos] != 0x0a:
      |                pos += 1
      |            continue
      |        start = pos
      |        while pos < n and not b[pos:pos+1].isspace():
      |            pos += 1
      |        toks.append(int(b[start:pos]))
      |    pos += 1  # the single whitespace after maxval
      |    if len(toks) < 3 or toks[2] > 255:
      |        return None
      |    w, h = toks[0], toks[1]
      |    if pos + 3 * w * h > n:
      |        return None
      |    return w, h, pos
      |
      |def decode(batches):
      |    for pdf in batches:
      |        rows = []
      |        for doc_id, payload in zip(pdf['doc_id'], pdf['payload']):
      |            parsed = parse_p6(bytes(payload))
      |            if parsed is None:
      |                continue
      |            w, h, off = parsed
      |            px = np.frombuffer(bytes(payload), np.uint8,
      |                               count=3 * w * h, offset=off).astype(np.int64)
      |            luma = int((299 * px[0::3] + 587 * px[1::3] + 114 * px[2::3]).sum())
      |            rows.append((int(doc_id), w, h, w * h, luma))
      |        yield pd.DataFrame(rows, columns=[
      |            'doc_id', 'width', 'height', 'n_pixels', 'luma_sum'])
      |
      |sc = SparkContext()
      |spark = SparkSession(sc)
      |media = spark.read.parquet("${input.path}")
      |schema = "doc_id long, width long, height long, n_pixels long, luma_sum long"
      |(media.mapInPandas(decode, schema)
      |    .coalesce(1).write.mode("overwrite").parquet("${output.path}"))
      |sc.stop()
      |""".stripMargin

  /** The same program with the WORK timed — from just before the lazy
    * read (i.e. after SparkContext/JVM boot) to after the write — so
    * the scale curves (graft.Curves) can split the data-dependent
    * Arrow/decode cost from the constant spark-submit JVM boot. Built
    * by string surgery on the canonical source above so the two can
    * never drift; stdout carries `ARROW_WORK_SECONDS=<t>`.
    */
  val pandasPpmDecodeTimed: String = {
    val timed = pandasPpmDecode
      .replace("media = spark.read.parquet",
        "import time\n_t0 = time.time()\nmedia = spark.read.parquet")
      .replace("sc.stop()",
        "print('ARROW_WORK_SECONDS=%.3f' % (time.time() - _t0))\nsc.stop()")
    require(timed.contains("_t0 = time.time()") &&
        timed.contains("ARROW_WORK_SECONDS"),
      "pandasPpmDecode instrumentation anchors missing")
    timed
  }

  /** True iff the subprocess python can run the Arrow/pandas path. */
  lazy val pandasAvailable: Boolean =
    PySparkRunner.pythonExec.exists { py =>
      val pb = new ProcessBuilder(py, "-c", "import pandas, pyarrow, numpy")
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      // a wedged probe must not leak: kill it and report unavailable
      val finished = p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) { p.destroyForcibly(); () }
      finished && p.exitValue() == 0
    }
}

package graft.semantic

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fm.{QueryEngine, Settings}

/** Mirrors the reference's semantic-layer tests: cache CRUD + model-change
  * invalidation (tests/semantic/test_cache.py), indexer state machine +
  * differential update + deletion + empty-content skip
  * (tests/semantic/test_indexer.py), and the query integration cases
  * (tests/test_query.py:221-326).
  */
class SemanticSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("graft_sem_spec")
    files.foreach { case (rel, content) =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    dir
  }

  private def settingsFor(dir: Path) =
    Settings(dir.toString, enableSemantic = true, "stub-model",
      Some(Files.createTempDirectory("graft_sem_cache").toString))

  test("embed() is deterministic, unit-norm, dimension-stable") {
    val a = Embed.encode("the quick brown fox", 64)
    val b = Embed.encode("the quick brown fox", 64)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 64)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(Embed.encode("", 64).toSeq != Seq.fill(64)(0.0f)) // zero-text fallback
    assert(Embed.encode("completely different words", 64).toSeq != a.toSeq)
  }

  test("embed('<literal>') folds to a literal; vectors are the encoder's, bit for bit") {
    val s = spark.newSession()
    val enc = Encoders.forModel("graft-trigram-encoder", Some(48))
    Embed.register(s, enc)
    val plan = s.sql("SELECT embed('spark table scan') AS v").queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal])))
    assert(!plan.expressions.exists(_.exists(_.isInstanceOf[EmbedText])), plan)
    val texts = Seq("spark table scan", "Ünïcode and  spaces", "")
    val rows = s.sql(
      "SELECT t, embed(t) AS v, embed('spark table scan') AS q FROM VALUES " +
        texts.map(t => s"('$t')").mkString(", ") + ", (NULL) AS x(t) ORDER BY t").collect()
    def bits(v: Seq[Float]) = v.map(java.lang.Float.floatToRawIntBits)
    val want = bits(enc.encode("spark table scan").toSeq)
    for (r <- rows) {
      assert(bits(r.getSeq[Float](2)) == want)
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(bits(r.getSeq[Float](1)) == bits(enc.encode(r.getString(0)).toSeq), r.getString(0))
    }
    assert(rows.length == 4)
  }

  test("cosine expressions: eval matches a plain double loop; distance = 1 - sim") {
    CosineFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(0.5f, 1.0f, -1.0f)),
      (Array(1.0f, 1.0f, 1.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val rows = spark.sql(
      """SELECT array_cosine_similarity(a, b) AS s, array_cosine_distance(a, b) AS d,
        |       list_cosine_similarity(a, b) AS s2 FROM vecs""".stripMargin).collect()
    def cos(u: Seq[Float], v: Seq[Float]): Double = {
      val dot = u.zip(v).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(u.map(x => x.toDouble * x).sum) * math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    val expected = cos(Seq(1f, 0f, 2f), Seq(0.5f, 1f, -1f))
    assert(math.abs(rows(0).getDouble(0) - expected) < 1e-12)
    assert(math.abs(rows(0).getDouble(1) - (1.0 - expected)) < 1e-12)
    assert(rows(0).getDouble(0) == rows(0).getDouble(2))
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("cache: set/get/delete, stale + deleted diff (test_cache.py)") {
    val cacheDir = Files.createTempDirectory("graft_cache_t")
    val c = new EmbeddingCache(spark, cacheDir, "m1", 4)
    c.set("a.md", 100L, Array(1f, 0f, 0f, 0f))
    c.set("b.md", 200L, Array(0f, 1f, 0f, 0f))
    assert(c.count == 2)
    assert(c.get("a.md").get.toSeq == Seq(1f, 0f, 0f, 0f))
    assert(c.getStalePaths(Map("a.md" -> 100L, "b.md" -> 999L, "c.md" -> 1L)) == Seq("b.md", "c.md"))
    assert(c.getDeletedPaths(Map("a.md" -> 100L)) == Seq("b.md"))
    c.delete("b.md")
    assert(c.count == 1)
    c.flush()
    // Reload from snapshot with the same model → entries survive
    val c2 = new EmbeddingCache(spark, cacheDir, "m1", 4)
    assert(c2.count == 1)
    // Model change → invalidation (cache.py:86-103)
    val c3 = new EmbeddingCache(spark, cacheDir, "m2", 4)
    assert(c3.count == 0)
  }

  test("indexer: idle -> indexing -> ready; differential + deletion (test_indexer.py)") {
    val dir = corpus(
      "a.md" -> "---\nt: 1\n---\nalpha body text",
      "b.md" -> "---\nt: 2\n---\nbeta body text",
      "empty.md" -> "---\nt: 3\n---\n")
    val st = settingsFor(dir)
    val ctx = new SemanticContext(spark, st, dimOverride = 16)
    assert(ctx.indexer.state == IndexerState.Idle)
    assert(!ctx.isReady)
    ctx.indexer.start()
    assert(ctx.indexer.await(60000))
    assert(ctx.indexer.state == IndexerState.Ready)
    // empty content skipped (indexer.py:121-131 via _get_content)
    assert(ctx.cache.count == 2)
    val before = ctx.cache.get("a.md").get.toSeq

    // touch a.md with new content + delete b.md → differential update
    Files.write(dir.resolve("a.md"), "---\nt: 1\n---\ntotally new content".getBytes)
    Files.setLastModifiedTime(dir.resolve("a.md"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 7000))
    Files.delete(dir.resolve("b.md"))
    ctx.indexer.start()
    assert(ctx.indexer.await(60000))
    assert(ctx.cache.count == 1)
    assert(ctx.cache.get("a.md").get.toSeq != before)
    assert(ctx.cache.get("b.md").isEmpty)
  }

  test("model switch truncates the cache and re-indexes through the encoder seam (cache.py:86-103)") {
    val dir = corpus("a.md" -> "---\nt: 1\n---\nalpha body text for the seam")
    val cacheDir = Files.createTempDirectory("graft_sem_seam").toString
    def settingsWith(model: String) =
      Settings(dir.toString, enableSemantic = true, model, Some(cacheDir))

    val ctxA = new SemanticContext(spark, settingsWith("stub-model"))
    ctxA.indexer.start(); assert(ctxA.indexer.await(60000))
    assert(ctxA.cache.count == 1)
    val va = ctxA.cache.get("a.md").get.toSeq

    // Same cache dir, different model name → cache truncated at load,
    // indexer rebuilds with the NEW encoder family (trigram)
    val ctxB = new SemanticContext(spark, settingsWith("graft-trigram-encoder-v1"))
    assert(ctxB.cache.count == 0)
    ctxB.indexer.start(); assert(ctxB.indexer.await(60000))
    assert(ctxB.cache.count == 1)
    val vb = ctxB.cache.get("a.md").get.toSeq
    assert(va.length == 64 && vb.length == 64)
    assert(vb != va) // genuinely a different encoder, not just a new name
    assert(vb == Embed.encodeTrigram("alpha body text for the seam", 64).toSeq)

    // @dim<N> suffix re-dimensions through the same seam (dim is part of
    // the cache metadata, so this also invalidates)
    val ctxC = new SemanticContext(spark, settingsWith("stub-model@dim32"))
    assert(ctxC.cache.count == 0)
    ctxC.indexer.start(); assert(ctxC.indexer.await(60000))
    assert(ctxC.cache.get("a.md").get.length == 32)
  }

  test("second encoder family at a model-derived dim drops in end-to-end (ADR-0009)") {
    // The reference derives dim from the model (docs/adr/0009:27-36).
    // Prove the seam honors that with NO dimOverride anywhere: a corpus
    // indexed under the default word-hash/64 model is re-pointed at the
    // trigram family at dim 48 purely via the model name; the cache must
    // truncate, the FLOAT[dim] schema row must follow, and embed() in
    // user SQL must produce 48-dim query vectors that rank correctly.
    val dir = corpus(
      "x.md" -> "---\ntitle: X\n---\nspark table scan and hash join",
      "y.md" -> "---\ntitle: Y\n---\ncompletely unrelated topic words")
    val cacheDir = Files.createTempDirectory("graft_sem_adr9").toString
    def settingsWith(model: String) =
      Settings(dir.toString, enableSemantic = true, model, Some(cacheDir))

    val ctxA = new SemanticContext(spark, settingsWith("stub-model"))
    ctxA.indexer.start(); assert(ctxA.indexer.await(60000))
    assert(ctxA.dim == 64 && ctxA.cache.get("x.md").get.length == 64)

    val model2 = "graft-trigram-encoder-v1@dim48"
    val ctxB = new SemanticContext(spark, settingsWith(model2))
    assert(ctxB.dim == 48)      // dim came from the model name
    assert(ctxB.cache.count == 0) // model change truncated the shared cache
    ctxB.indexer.start(); assert(ctxB.indexer.await(60000))
    assert(ctxB.cache.get("x.md").get.toSeq ==
      Embed.encodeTrigram("spark table scan and hash join", 48).toSeq)

    val eng = new QueryEngine(spark, settingsWith(model2), Some(ctxB))
    val rows = eng.query("**/*.md",
      """SELECT path, array_cosine_similarity(embedding, embed('spark table scan')) AS score
        |FROM files WHERE embedding IS NOT NULL ORDER BY score DESC""".stripMargin)
      .results.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("x.md", "y.md"))
    val (_, schemaDf, _) = eng.inspect("**/*.md")
    val emb = schemaDf.collect().find(_.getString(0) == "embedding")
    assert(emb.exists(r => r.getString(1) == "FLOAT[48]"))
  }

  test("weights-file encoder: dim follows the file, cache truncates, missing file falls back (VERDICT r7 item 5)") {
    // Fixture weights: a deterministic 32-in / 48-out projection standing
    // in for real exported model weights (reference ruri-v3-30m,
    // docs/adr/0009). dim 48 ≠ the 64 default, so every downstream
    // surface must follow the FILE's dimension, not a name suffix.
    val wFile = Files.createTempFile("graft_weights", ".txt")
    val rnd = new scala.util.Random(7)
    val body = (0 until 48).map(_ =>
      Array.fill(32)(f"${rnd.nextGaussian()}%.6f").mkString(" ")).mkString("\n")
    Files.write(wFile, s"32 48\n$body\n".getBytes("UTF-8"))
    val model = s"graft-weights:$wFile"

    val enc = Encoders.forModel(model)
    assert(enc.isInstanceOf[WeightsEncoder])
    assert(enc.dim == 48)
    val v1 = enc.encode("spark table scan and hash join")
    assert(v1.length == 48)
    assert(v1.toSeq == enc.encode("spark table scan and hash join").toSeq)
    assert(v1.toSeq != enc.encode("completely different words").toSeq)
    assert(math.abs(math.sqrt(v1.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)

    // End-to-end: corpus indexed under the default model, then re-pointed
    // at the weights file — cache truncates, vectors come from the
    // projection, the FLOAT[48] schema row follows (cache.py:86-103).
    val dir = corpus("a.md" -> "---\nt: 1\n---\nalpha body text for the seam")
    val cacheDir = Files.createTempDirectory("graft_sem_weights").toString
    def settingsWith(m: String) =
      Settings(dir.toString, enableSemantic = true, m, Some(cacheDir))
    val ctxA = new SemanticContext(spark, settingsWith("stub-model"))
    ctxA.indexer.start(); assert(ctxA.indexer.await(60000))
    assert(ctxA.cache.get("a.md").get.length == 64)

    val ctxB = new SemanticContext(spark, settingsWith(model))
    assert(ctxB.dim == 48)
    assert(ctxB.cache.count == 0) // model change truncated the shared cache
    ctxB.indexer.start(); assert(ctxB.indexer.await(60000))
    assert(ctxB.cache.get("a.md").get.toSeq ==
      enc.encode("alpha body text for the seam").toSeq)
    val eng = new QueryEngine(spark, settingsWith(model), Some(ctxB))
    val (_, schemaDf, _) = eng.inspect("**/*.md")
    val emb = schemaDf.collect().find(_.getString(0) == "embedding")
    assert(emb.exists(r => r.getString(1) == "FLOAT[48]"))

    // Missing file → word-hash fallback under the SAME configured name:
    // structurally usable offline, re-indexes once the file appears.
    val gone = Encoders.forModel("graft-weights:/nonexistent/w.txt")
    assert(gone.isInstanceOf[WordHashEncoder])
    assert(gone.dim == Embed.DefaultDim)
    assert(gone.model == "graft-weights:/nonexistent/w.txt")
  }

  test("engine integration: embedding column, NULL for unindexed, cosine ranking (test_query.py:221-326)") {
    val dir = corpus(
      "x.md" -> "---\ntitle: X\n---\nspark table scan and hash join",
      "y.md" -> "---\ntitle: Y\n---\ncompletely unrelated topic words",
      "z.md" -> "---\ntitle: Z\n---\n") // empty body → never indexed → NULL
    val st = settingsFor(dir)
    val ctx = new SemanticContext(spark, st, dimOverride = 32)
    ctx.indexer.start(); ctx.indexer.await(60000)
    val eng = new QueryEngine(spark, st, Some(ctx))
    val r = eng.query("**/*.md",
      """SELECT path, array_cosine_similarity(embedding, embed('spark table scan')) AS score
        |FROM files WHERE embedding IS NOT NULL ORDER BY score DESC""".stripMargin)
    val rows = r.results.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("x.md", "y.md")) // x ranks first
    val nulls = eng.query("**/*.md", "SELECT path FROM files WHERE embedding IS NULL")
    assert(nulls.results.collect().map(_.getString(0)).toSeq == Seq("z.md"))
    // inspect() gains the embedding row (semantic/query_schema.py:7-18)
    val (_, schemaDf, _) = eng.inspect("**/*.md")
    val emb = schemaDf.collect().find(_.getString(0) == "embedding")
    assert(emb.exists(r2 => r2.getString(1) == "FLOAT[32]" && !r2.getBoolean(2)))
  }
}

package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Params

/** Property-based coverage for the pure text utilities (SURVEY.md §5).
  * Plain ScalaCheck (no scalatestplus bridge on the offline classpath):
  * each property is executed with ScalaCheck's runner and asserted to pass.
  */
class PropertySpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(result.passed, result.status.toString)
  }

  private val key = Gen.identifier.suchThat(_.nonEmpty).map(_.take(12))
  private val value = Gen.alphaNumStr.map(_.take(20))

  test("injectParameters replaces every known placeholder") {
    checkProp(Prop.forAll(key, value) { (k, v) =>
      Params.injectParameters(s"SELECT $${$k} FROM t", Map(k -> v)) == s"SELECT $v FROM t"
    })
  }

  test("injectParameters leaves unknown placeholders verbatim") {
    checkProp(Prop.forAll(key) { k =>
      val sql = s"SELECT $${$k} FROM t"
      Params.injectParameters(sql, Map.empty) == sql
    })
  }

  test("default wins only when key is absent") {
    checkProp(Prop.forAll(key, value, value) { (k, v, d) =>
      Params.injectParameters(s"$${$k=$d}", Map(k -> v)) == v &&
      (d.isEmpty || Params.injectParameters(s"$${$k=$d}", Map.empty) == d)
    })
  }

  test("parseArgs round-trips unquoted k=v pairs") {
    val kv = for { k <- key; v <- value.suchThat(_.nonEmpty) } yield (k, v)
    checkProp(Prop.forAll(Gen.mapOf(kv).map(_.take(5))) { m =>
      val line = m.map { case (k, v) => s"$k=$v" }.mkString(" ")
      Params.parseArgs(line) == m
    })
  }

  test("parseArgs preserves quoted values with spaces") {
    checkProp(Prop.forAll(key, Gen.listOfN(3, Gen.alphaStr.map(_.take(5)))) { (k, words) =>
      val v = words.mkString(" ")
      Params.parseArgs(s"""$k="$v"""").get(k).contains(v)
    })
  }

  test("Hocon parses arbitrary rendered JSON identically to the JSON parser") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val leaf: Gen[JValue] = Gen.oneOf(
      Gen.alphaNumStr.map(s => JString(s.take(12))),
      Gen.chooseNum(-1000000L, 1000000L).map(n => JInt(BigInt(n))),
      Gen.chooseNum(-1e6, 1e6).map(JDouble(_)),
      Gen.oneOf(JBool(true), JBool(false), JNull)
    )
    def jvalue(depth: Int): Gen[JValue] =
      if (depth <= 0) leaf
      else Gen.frequency(
        3 -> leaf,
        1 -> Gen.listOfN(3, jvalue(depth - 1)).map(JArray(_)),
        1 -> Gen.listOfN(3, Gen.zip(Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty), jvalue(depth - 1)))
          .map(kvs => JObject(kvs.distinctBy(_._1)))
      )
    val rootGen: Gen[JValue] = Gen.listOfN(4,
      Gen.zip(Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty), jvalue(2)))
      .map(kvs => JObject(kvs.distinctBy(_._1)))
    checkProp(Prop.forAll(rootGen) { j =>
      val rendered = JsonMethods.compact(JsonMethods.render(j))
      graft.core.Hocon.parse(rendered) == JsonMethods.parse(rendered)
    })
  }

  test("withGlobalPosition yields the exact rank permutation for arbitrary sizes/partitionings") {
    // Spark-backed property (few iterations — each runs real jobs): for any
    // corpus size and partition count, positions must be exactly the rank of
    // the order key — 0..n-1, no repeats, no gaps, pin or no pin.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, pmod}
    val gen = for {
      n <- Gen.choose(1, 300)
      parts <- Gen.choose(1, 8)
      pin <- Gen.oneOf(true, false)
    } yield (n, parts, pin)
    val prop = Prop.forAll(gen) { case (n, parts, pin) =>
      val df = spark.range(0, n.toLong).toDF("id")
        .repartition(pmod(col("id"), org.apache.spark.sql.functions.lit(3)).cast("int"))
      val ranked = graft.core.GlobalOrder.withGlobalPosition(
        df, Seq(col("id")), numPartitions = Some(parts), pin = pin)
      val rows = ranked.collect().map(r => (r.getLong(0), r.getLong(1)))
      rows.length == n && rows.forall { case (id, pos) => id == pos }
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("rankedByHash: per-group _rn is a hash-ordered permutation and _n the group size") {
    // Spark-backed property (few iterations — each runs real jobs) over the
    // slice-rank that underpins stratifiedExact/mixtureExact/temperatureSample
    // and the interleave: for ANY grouping — NULL groups included — _rn must
    // be exactly 1.._n within the group, _n the true group size, and (since
    // the generated hashes are distinct within a group) _rn must follow the
    // hash order — the same contract as row_number() OVER (PARTITION BY g
    // ORDER BY h), which the slice formulation replaces.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rowGen = for {
      g <- Gen.option(Gen.oneOf("a", "b", "c", "d"))
      h <- Gen.identifier.map(_.take(12))
    } yield (g, h)
    val gen = Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, rowGen))
    val prop = Prop.forAll(gen) { rows0 =>
      // distinct (group, hash) keeps the hash-order assertion well-defined;
      // ties in h rank arbitrarily by contract, so equal hashes are dropped
      val rows = rows0.distinct
      val df = rows.zipWithIndex.map { case ((g, h), i) => (g, h, i.toLong) }
        .toDF("src", "h", "id")
      val got = graft.llm.LlmTestAccess.rankedByHash(df, Seq("src"), col("h"))
        .select("src", "h", "id", "_rn", "_n")
        .collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(3), r.getLong(4)))
      got.length == rows.length && got.groupBy(_._1).forall { case (_, grp) =>
        val n = grp.length.toLong
        grp.forall(_._4 == n) &&
        grp.sortBy(_._2).map(_._3).toSeq == (1L to n) // hash order ⇒ rank order
      }
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("BloomSketch: no false negatives and exact anti-join for arbitrary key sets") {
    // Spark-backed property (few iterations): whatever the build/probe key
    // sets and however tiny the bitmap (64 bits forces mass collisions),
    // every build key must probe true and antiJoin must equal the exact
    // left-anti result.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val keyGen = Gen.identifier.map(_.take(8))
    val gen = for {
      members <- Gen.listOf(keyGen).map(_.distinct.take(40))
      probes <- Gen.listOf(keyGen).map(_.distinct.take(40))
      bits <- Gen.oneOf(64L, 512L, 4096L)
    } yield (members, probes, bits)
    val prop = Prop.forAll(gen) { case (members, probes, bits) =>
      val m = members.toDF("k")
      val p = (probes ++ members.take(5)).distinct.toDF("k")
      val sk = graft.llm.BloomSketch.build(m, col("k"), bits, 3)
      val flagged = graft.llm.BloomSketch.mightContain(sk, p, col("k"), bits, 3)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val sound = members.toSet.intersect(flagged.keySet)
        .forall(k => flagged(k)) // no false negative
      val got = graft.llm.BloomSketch.antiJoin(p, col("k"), m, col("k"), bits, 3)
        .collect().map(_.getString(0)).toSet
      val want = flagged.keySet -- members.toSet
      sound && got == want
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("slicedPrefix: _cum is the exact weighted running sum in hash order, _tot the group total") {
    // Spark-backed property over the generalized slice engine (which now
    // underpins every exact sampler, the interleave, AND the token-budget
    // mixture): for arbitrary groupings (NULL included) and non-negative
    // integer weights, _cum must equal the running sum of weights in hash
    // order within the group and _tot the group's total weight.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rowGen = for {
      g <- Gen.option(Gen.oneOf("a", "b", "c"))
      h <- Gen.identifier.map(_.take(10))
      w <- Gen.choose(0L, 9L)
    } yield (g, h, w)
    val gen = Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, rowGen))
    val prop = Prop.forAll(gen) { rows0 =>
      val rows = rows0.distinctBy(r => (r._1, r._2)) // unique h per group: total order
      val df = rows.toDF("src", "h", "w")
      val got = graft.llm.LlmTestAccess.slicedPrefix(df, Seq("src"), col("h"), col("w"))
        .select("src", "h", "w", "_cum", "_tot").collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      got.length == rows.length && got.groupBy(_._1).forall { case (_, grp) =>
        val total = grp.map(_._3).sum
        val sorted = grp.sortBy(_._2)
        val want = sorted.map(_._3).scanLeft(0L)(_ + _).tail
        grp.forall(_._5 == total) && sorted.map(_._4).toSeq == want.toSeq
      }
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("perKey and perKeySalted equal the window formulation for arbitrary data") {
    // Spark-backed property (few iterations): both bounded top-k shapes —
    // the heap prune and the salted two-level window — must equal
    // row_number() OVER (PARTITION BY key ORDER BY score, id) <= k
    // bit-for-bit, for any data (heavy score ties by construction), any k,
    // either direction, and any bucket count. The unique id tiebreak makes
    // the ordering total per key, which is both operators' exactness
    // precondition.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val rowGen = for {
      key <- Gen.choose(0, 3)
      score <- Gen.choose(0, 5) // few distinct scores → boundary ties everywhere
    } yield (key, score)
    val gen = for {
      rows <- Gen.choose(1, 80).flatMap(n => Gen.listOfN(n, rowGen))
      k <- Gen.choose(1, 6)
      desc <- Gen.oneOf(true, false)
      buckets <- Gen.choose(1, 5)
    } yield (rows, k, desc, buckets)
    val prop = Prop.forAll(gen) { case (rows, k, desc, buckets) =>
      val df = rows.zipWithIndex
        .map { case ((key, sc), i) => (key, sc.toDouble, i.toLong) }
        .toDF("key", "score", "id")
      def set(d: org.apache.spark.sql.DataFrame) = d
        .select("key", "score", "id", "rank").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
      val sort = if (desc) col("score").desc else col("score").asc
      val w = Window.partitionBy("key").orderBy(sort, col("id"))
      val want = set(df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k))
      val heap = set(graft.operators.TopK.perKey(
        df, Seq("key"), "score", k, desc, Seq("id")))
      val salted = set(graft.operators.TopK.perKeySalted(
        df, Seq("key"), "score", k, desc, Seq("id"), buckets))
      heap == want && salted == want
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("hashSplit: bands partition every row; edges move without reshuffling interiors") {
    // Spark-backed property (few iterations): for random positive fractions
    // (normalized to sum 1), every row gets exactly one label, the first
    // band equals hashSample at the same rate/salt, and growing the LAST
    // band's fraction at the expense of the first never moves a row
    // between the MIDDLE bands (band edges move, interiors stay put) —
    // the re-splittability contract training pipelines rely on.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fracsGen = Gen.listOfN(3, Gen.choose(1, 10)).suchThat(_.sum > 0)
    val prop = Prop.forAll(fracsGen, Gen.choose(50, 200)) { (ws, n) =>
      val total = ws.sum.toDouble
      val fracs = ws.map(_ / total)
      val labels = Seq("train", "val", "test")
      val df = spark.range(0, n.toLong).toDF("id")
      val split = graft.llm.Sampling.hashSplit(df, col("id"), labels.zip(fracs), salt = "p")
        .select("id", "split").as[(Long, String)].collect().toMap
      val coversAll = split.size == n && split.values.forall(labels.contains)
      val firstBand = split.filter(_._2 == "train").keySet
      val sampled = graft.llm.Sampling.hashSample(df, col("id"), fracs.head, salt = "p")
        .select("id").as[Long].collect().toSet
      // shrink the first band into the last: middle band membership is stable
      val eps = fracs.head / 2
      val moved = graft.llm.Sampling.hashSplit(df, col("id"),
          labels.zip(Seq(fracs(0) - eps, fracs(1), fracs(2) + eps)), salt = "p")
        .select("id", "split").as[(Long, String)].collect().toMap
      // both band edges move LEFT by eps: an old-val row can only stay val
      // or fall into test, and a new-val row can only have been train or val
      val valStable = split.filter(_._2 == "val").keySet
        .subsetOf(moved.filter(m => m._2 == "val" || m._2 == "test").keySet) &&
        moved.filter(_._2 == "val").keySet
          .subsetOf(split.filter(s => s._2 == "train" || s._2 == "val").keySet)
      coversAll && firstBand == sampled && valStable
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("metadata schema JSON round-trip preserves name/type/nullable") {
    import graft.schema.{FieldSpec, MetadataSchema}
    import org.apache.spark.sql.types._
    val fieldGen = for {
      name <- Gen.identifier.map(_.take(10)).suchThat(_.nonEmpty)
      tpe <- Gen.oneOf("string", "integer", "long", "double", "boolean", "date", "timestamp")
      nullable <- Gen.oneOf(true, false)
    } yield FieldSpec(name, tpe, nullable)
    checkProp(Prop.forAll(Gen.listOfN(5, fieldGen)) { fields0 =>
      val fields = fields0.distinctBy(_.name)
      val schema = StructType(fields.map(_.structField))
      val back = MetadataSchema.fromJson(MetadataSchema.toJson(schema))
      back.map(f => (f.name, f.`type`, f.nullable)) ==
        fields.map(f => (f.name, f.`type`, f.nullable))
    })
  }

  test("cdc_chunks compute: reassembly, bounds, determinism over arbitrary unicode") {
    // direct expression-kernel property (no Spark job): for ANY string —
    // ascii, multi-byte, emoji, empty — chunks concatenate back exactly,
    // respect maxLen, keep minLen on non-final chunks, and are stable
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\n', '\t', '.', ','),
      1 -> Gen.oneOf('\u00e9', '\u4f60', '\u597d', '\u00df'),
      1 -> Gen.oneOf("\ud83d\ude00", "\ud83c\udf89").map(_.charAt(0)) // surrogate halves rejoined below
    )
    val textGen = Gen.listOf(charGen).map(_.mkString)
      .map(s => new String(s.toCharArray.filterNot(Character.isSurrogate)) +
        (if (s.length % 3 == 0) "\ud83d\ude00" else "")) // valid emoji tail sometimes
    checkProp(Prop.forAll(textGen, Gen.chooseNum(1, 8), Gen.chooseNum(2, 6)) {
      (text, minLen, maskBits) =>
        val maxLen = minLen + (1 << maskBits) * 2
        val s = org.apache.spark.unsafe.types.UTF8String.fromString(text)
        val out = graft.functions.CdcChunksExpr.compute(s, minLen, maskBits, maxLen)
        val chunks = (0 until out.numElements()).map(i =>
          out.getUTF8String(i).toString)
        val again = graft.functions.CdcChunksExpr.compute(s, minLen, maskBits, maxLen)
        val chunks2 = (0 until again.numElements()).map(i => again.getUTF8String(i).toString)
        chunks.mkString("") == text &&
          chunks.forall(c => c.codePointCount(0, c.length) <= maxLen) &&
          chunks.dropRight(1).forall(c => c.codePointCount(0, c.length) >= minLen) &&
          chunks == chunks2
    })
  }

  test("canonicalizeUrl matches a straight-line Scala reference on generated URLs") {
    // the Column chain (8 codegen'd built-ins) vs an independent readable
    // implementation: any divergence in regex semantics, param filtering or
    // ordering shows up here before it can silently skew a dedup key
    val host = for {
      h <- Gen.oneOf("Site.COM", "www.site.com", "WWW.Example.Org", "a.b.io")
    } yield h
    val path = Gen.oneOf("", "/", "/A/B", "/a/b/", "/x/index.html", "/index.html")
    val params = Gen.someOf(Seq("utm_source=x", "gclid=1", "ref=rss", "page=2", "b=1", "a=2"))
      .map(_.toList)
    val frag = Gen.oneOf("", "#sec")
    val urlGen = for {
      scheme <- Gen.oneOf("http://", "https://")
      h <- host; pth <- path; ps <- params; f <- frag
    } yield scheme + h + pth + (if (ps.nonEmpty) "?" + ps.mkString("&") else "") + f

    def reference(u: String): String = {
      val noScheme = u.replaceFirst("^https?://", "")
      val cut = noScheme.indexWhere(c => c == '/' || c == '?' || c == '#') match {
        case -1 => noScheme.length; case i => i
      }
      val hostPart = noScheme.substring(0, cut).toLowerCase.replaceFirst("^www\\.", "")
      val rest = noScheme.substring(cut)
      val hashAt = rest.indexOf('#')
      val noFrag = if (hashAt >= 0) rest.substring(0, hashAt) else rest
      val qAt = noFrag.indexOf('?')
      val pathPart0 = if (qAt >= 0) noFrag.substring(0, qAt) else noFrag
      val query = if (qAt >= 0) noFrag.substring(qAt + 1) else ""
      val pathPart = pathPart0.replaceFirst("/index\\.html$", "").replaceFirst("/$", "")
      val kept = query.split("&").filter(p => p.nonEmpty &&
        !p.matches("^(utm_[a-z]+|gclid|fbclid|ref)=.*")).sorted
      hostPart + pathPart + (if (kept.nonEmpty) "?" + kept.mkString("&") else "")
    }

    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    checkProp(Prop.forAll(Gen.listOfN(8, urlGen)) { urls =>
      urls.isEmpty || {
        val got = urls.toDF("u")
          .select(graft.llm.UrlNorm.canonicalizeUrl(col("u"))).as[String].collect().toSeq
        got == urls.map(reference)
      }
    })
  }

  test("groupedQuantiles equals Spark's percentile on generated frames (slice engine property)") {
    // Spark-backed property at a reduced case count (each case runs jobs):
    // random group shapes — singleton groups, dominant groups, ties, NULL
    // keys — must match the buffering aggregate bit-for-bit at random ps.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // v is Option: NULL values must be IGNORED (PERCENTILE_CONT semantics,
    // exactly what Spark's percentile does) — a null used to sort first
    // under the range partition and shift every quantile of its group
    val rowGen = for {
      g <- Gen.oneOf(Some("a"), Some("b"), Some("hot"), None)
      v <- Gen.option(Gen.chooseNum(-1000, 1000).map(_.toDouble))
    } yield (g, v)
    val pGen = Gen.chooseNum(0.0, 1.0)
    val prop = Prop.forAll(
      Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, rowGen)), pGen) { (rows, p0) =>
      val p = math.rint(p0 * 100) / 100 // 2dp: keeps the literal printable
      val df = rows.map { case (g, v) => (g.orNull, v) }.toDF("g", "v")
      val got = graft.llm.RobustStats.groupedQuantiles(df, Seq("g"), col("v"), Seq(p))
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
      // an all-null group: percentile emits (g, NULL); groupedQuantiles
      // documents the group as absent — compare on the non-null rows
      val want = df.groupBy("g").agg(expr(s"percentile(v, $p)"))
        .collect().filter(!_.isNullAt(1))
        .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
      got == want
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("bpe byte-fallback encode/decode round-trips arbitrary unicode (kernel property)") {
    // The totality contract of Bpe.encodeIdsTotal/decodeIds, on the exact
    // kernels the Spark expressions run (BpeApplier / BpeDecoder): for ANY
    // valid unicode string — ASCII, unicode whitespace, CJK, supplementary
    // planes — tokenize → (vocab id | UTF-8 byte ids) → decode reproduces
    // the string with Java-\s whitespace removed. No OOV is representable.
    import org.apache.spark.unsafe.types.UTF8String
    import java.nio.charset.StandardCharsets.UTF_8
    val applier = new graft.functions.BpeApplier(
      Seq(("a", "b"), ("ab", "c"), ("e", "f"), ("😀", "🌍")))
    val learned = Seq("ab", "abc", "ef", "a", "b", "x", "😀🌍") // ids 256..262
    val vmap = learned.zipWithIndex.map { case (t, i) => (t, 256L + i) }.toMap
    val decoder = new graft.functions.BpeDecoder(learned)
    val cpGen = Gen.frequency(
      5 -> Gen.choose(0x20, 0x7E),                        // printable ASCII
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B').map(_.toInt),
      2 -> Gen.oneOf(0x2000, 0x2028, 0x3000, 0xA0),       // unicode spaces
      2 -> Gen.choose(0xA1, 0xD7FF),                      // BMP incl. CJK
      1 -> Gen.choose(0x10000, 0x10FFFF))                 // supplementary
    val strGen = Gen.listOf(cpGen).map { cps =>
      val sb = new java.lang.StringBuilder()
      cps.foreach(sb.appendCodePoint)
      sb.toString
    }
    checkProp(Prop.forAll(strGen) { s =>
      val toks = applier.tokenize(UTF8String.fromString(s))
      val ids = (0 until toks.numElements()).flatMap { i =>
        val t = toks.getUTF8String(i).toString
        vmap.get(t) match {
          case Some(id) => Seq(id)
          case None     => t.getBytes(UTF_8).map(b => (b & 0xFF).toLong).toSeq
        }
      }
      val out = decoder.decode(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          ids.map(Long.box).toArray[Any]))
      out != null && out.toString == s.replaceAll("\\s+", "")
    })
  }

  test("unigram viterbi encode/decode round-trips arbitrary unicode; viterbi >= greedy") {
    // Kernel property on the exact classes the Spark expression runs
    // (UnigramEncoder / BpeDecoder): encoding is TOTAL on any valid
    // unicode string, decode reproduces the string with Java-\s
    // whitespace removed, and the Viterbi score dominates the greedy
    // longest-match score EXACTLY (both are document-order left folds;
    // IEEE-754 addition is monotone).
    import org.apache.spark.unsafe.types.UTF8String
    val enc = new graft.functions.UnigramEncoder(
      Seq(("ab", -1.5), ("abc", -2.5), ("x", -2.0), ("e", -2.8),
        ("\u6f22", -3.0), ("\ud83d\ude00\ud83c\udf0d", -2.2)), byteScore = -12.0)
    val decoder = new graft.functions.BpeDecoder(
      Seq("ab", "abc", "x", "e", "\u6f22", "\ud83d\ude00\ud83c\udf0d"))
    val cpGen = Gen.frequency(
      5 -> Gen.choose(0x20, 0x7E),
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B').map(_.toInt),
      2 -> Gen.oneOf(0x2000, 0x2028, 0x3000, 0xA0),
      2 -> Gen.choose(0xA1, 0xD7FF),
      1 -> Gen.choose(0x10000, 0x10FFFF))
    val strGen = Gen.listOf(cpGen).map { cps =>
      val sb = new java.lang.StringBuilder()
      cps.foreach(sb.appendCodePoint)
      sb.toString
    }
    checkProp(Prop.forAll(strGen) { s =>
      val row = enc.encode(UTF8String.fromString(s))
      val decoded = decoder.decode(row.getArray(1))
      decoded != null && decoded.toString == s.replaceAll("\\s+", "") &&
        row.getDouble(2) >= row.getDouble(3)
    })
  }

  test("MJPEG-AVI container round-trip: parse(build(frames)) is header- and payload-exact") {
    // pure-JVM kernel: random dims / fps / frame count, frames of random
    // bytes (the container never inspects payloads — codec-agnostic), the
    // parse must return exactly what the writer was given
    val frameGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 64).flatMap(len =>
        Gen.listOfN(len, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))))
    val dimGen = Gen.choose(1, 512)
    val fpsGen = Gen.choose(1, 120)
    checkProp(Prop.forAll(frameGen, dimGen, dimGen, fpsGen) { (frames, w, h, fps) =>
      val avi = graft.llm.Multimodal.buildMjpegAvi(frames, w, h, fps)
      graft.llm.LlmTestAccess.parseAvi(avi) match {
        case None => false
        case Some(v) =>
          v.width == w && v.height == h &&
            v.totalFrames == frames.length.toLong &&
            v.microSecPerFrame == 1000000L / fps &&
            v.frameRanges.length == frames.length &&
            frames.indices.forall(i =>
              java.util.Arrays.equals(v.frameBytes(avi, i), frames(i)))
      }
    })
    // truncation STRICTLY inside the movi list is always refused (a cut
    // exactly ON the hdrl/movi boundary is a legitimate zero-frame clip)
    val avi = graft.llm.Multimodal.buildMjpegAvi(
      Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5)), 8, 8, 25)
    // a RIFF chunk is [fourcc][size][data], so the movi LIST reads
    // "LIST" <4 size bytes> "movi" — locate its header start
    def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val moviStart = (12 until avi.length - 12).find(i =>
      avi.slice(i, i + 4).sameElements(ascii("LIST")) &&
        avi.slice(i + 8, i + 12).sameElements(ascii("movi"))).get
    checkProp(Prop.forAll(Gen.choose(moviStart + 1, avi.length - 1)) { cut =>
      graft.llm.LlmTestAccess.parseAvi(avi.take(cut)).isEmpty
    })
  }

  test("AVI audio track: build-with-audio extracts to a byte-exact JDK-parsable WAV; video unaffected") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val pcmGen = for {
      bits <- Gen.oneOf(8, 16)
      ch <- Gen.choose(1, 2)
      rate <- Gen.oneOf(8000, 16000, 44100)
      blocks <- Gen.choose(1, 500)
      data <- Gen.listOfN(blocks * ch * (bits / 8),
        Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (data.toArray, rate, ch, bits)
    checkProp(Prop.forAll(pcmGen) { case (pcm, rate, ch, bits) =>
      val avi = graft.llm.Multimodal.buildMjpegAviWithAudio(
        frames, 8, 8, 25, pcm, rate, ch, bits)
      val (wav, status) = graft.llm.LlmTestAccess.extractAudioBlob(avi)
      val v = graft.llm.LlmTestAccess.parseAvi(avi)
      val a = graft.llm.LlmTestAccess.parseAviAudio(avi).get
      status == "extracted" &&
        a.streamIndex == 1 && a.channels == ch &&
        a.sampleRate == rate && a.bitsPerSample == bits &&
        // the video track parses exactly as without audio
        v.exists(vv => vv.totalFrames == 2 && vv.microSecPerFrame == 40000L &&
          frames.indices.forall(i =>
            java.util.Arrays.equals(vv.frameBytes(avi, i), frames(i)))) &&
        // WAV payload = the source PCM, byte for byte
        java.util.Arrays.equals(wav.drop(44), pcm) && {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wav))
          try {
            val f = ais.getFormat
            f.getChannels == ch && math.round(f.getSampleRate) == rate &&
              f.getSampleSizeInBits == bits &&
              ais.getFrameLength == pcm.length / (ch * (bits / 8))
          } finally ais.close()
        }
    })
    // the extracted WAV feeds the audio pipeline directly
    val avi = graft.llm.Multimodal.buildMjpegAviWithAudio(
      frames, 8, 8, 25, new Array[Byte](1600), 8000, 1, 16)
    val (wav, _) = graft.llm.LlmTestAccess.extractAudioBlob(avi)
    assert(graft.llm.LlmTestAccess.resampleAudioBlob(wav, 16000)._2 == "ok")
    // no audio stream → no_audio; not an AVI → unsupported
    val plain = graft.llm.Multimodal.buildMjpegAvi(Seq(Array[Byte](1)), 8, 8, 25)
    assert(graft.llm.LlmTestAccess.extractAudioBlob(plain) == ((null, "no_audio")))
    assert(graft.llm.LlmTestAccess.extractAudioBlob(
      "not an avi at all".getBytes)._2 == "unsupported")
  }

  test("AVI stream order: audio-first files still yield the video track; audio-only files extract") {
    // hand-built RIFF fixtures our writer never produces: data chunk ids
    // carry the STREAM ORDER index, so an audio-first file stores frames
    // as 01dc (not 00dc) and its PCM as 00wb — real-world muxers emit
    // both orders
    def le(i: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt((i & 0xffffffffL).toInt).array()
    }
    def le16(i: Int) = Array[Byte]((i & 0xff).toByte, ((i >> 8) & 0xff).toByte)
    def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if ((data.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray
      ascii(id) ++ le(data.length.toLong) ++ data ++ pad
    }
    def list(typ: String, children: Array[Byte]) = chunk("LIST", ascii(typ) ++ children)
    def riff(hdrl: Array[Byte], movi: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le(4L + hdrl.length + movi.length) ++ ascii("AVI ") ++ hdrl ++ movi
    def avih(w: Int, h: Int, n: Int, streams: Int) = chunk("avih",
      le(40000L) ++ le(0) ++ le(0) ++ le(0) ++ le(n.toLong) ++ le(0) ++
        le(streams.toLong) ++ le(0) ++ le(w.toLong) ++ le(h.toLong) ++
        le(0) ++ le(0) ++ le(0) ++ le(0))
    val vidsStrl = list("strl",
      chunk("strh", ascii("vids") ++ ascii("MJPG") ++ le(0) ++ le(0) ++ le(0) ++
        le(40000L) ++ le(1000000L) ++ le(0) ++ le(2L) ++ le(0) ++ le(0) ++ le(0) ++ le(0) ++ le(0)) ++
      chunk("strf", le(40) ++ le(8L) ++ le(8L) ++ Array[Byte](1, 0, 24, 0) ++
        ascii("MJPG") ++ le(8L * 8 * 3) ++ le(0) ++ le(0) ++ le(0) ++ le(0)))
    val audsStrl = list("strl",
      chunk("strh", ascii("auds") ++ le(1) ++ le(0) ++ le(0) ++ le(0) ++
        le(2L) ++ le(16000L) ++ le(0) ++ le(32L) ++ le(0) ++ le(0) ++ le(0) ++ le(0) ++ le(0)) ++
      chunk("strf", le16(1) ++ le16(1) ++ le(8000L) ++ le(16000L) ++ le16(2) ++ le16(16)))
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val pcm = Array.tabulate[Byte](64)(_.toByte)

    // audio FIRST: stream 0 = auds (chunks 00wb), stream 1 = vids (01dc)
    val audioFirst = riff(
      list("hdrl", avih(8, 8, 2, 2) ++ audsStrl ++ vidsStrl),
      chunk("LIST", ascii("movi") ++ chunk("00wb", pcm) ++
        frames.map(chunk("01dc", _)).reduce(_ ++ _)))
    val v = graft.llm.LlmTestAccess.parseAvi(audioFirst).get
    assert(v.totalFrames == 2L && v.microSecPerFrame == 40000L &&
      v.frameRanges.length == 2 &&
      frames.indices.forall(i =>
        java.util.Arrays.equals(v.frameBytes(audioFirst, i), frames(i))), v.toString)
    val a = graft.llm.LlmTestAccess.parseAviAudio(audioFirst).get
    assert(a.streamIndex == 0 && a.sampleRate == 8000 && a.channels == 1)
    val (wav, st) = graft.llm.LlmTestAccess.extractAudioBlob(audioFirst)
    assert(st == "extracted" && java.util.Arrays.equals(wav.drop(44), pcm))

    // audio ONLY: no video stream at all — not a video clip, but the
    // track still extracts
    val audioOnly = riff(
      list("hdrl", avih(0, 0, 0, 1) ++ audsStrl),
      chunk("LIST", ascii("movi") ++ chunk("00wb", pcm)))
    assert(graft.llm.LlmTestAccess.parseAvi(audioOnly).isEmpty)
    val (wav2, st2) = graft.llm.LlmTestAccess.extractAudioBlob(audioOnly)
    assert(st2 == "extracted" && java.util.Arrays.equals(wav2.drop(44), pcm))
  }

  test("AVI timing: strh rate/scale is authoritative when avih disagrees; zero-rate strh falls back") {
    def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def find(b: Array[Byte], id: String) = (12 until b.length - 4).find(i =>
      b.slice(i, i + 4).sameElements(ascii(id))).get
    def putU32(b: Array[Byte], off: Int, v: Long): Unit =
      java.nio.ByteBuffer.wrap(b, off, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt((v & 0xffffffffL).toInt)
    val clean = graft.llm.Multimodal.buildMjpegAvi(
      Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5)), 8, 8, 25) // 40000 µs/frame
    // avih.dwMicroSecPerFrame mangled to 99999: the public AVI contract
    // makes strh's scale/rate (40000/1e6 s) the stream's real timing
    val disagree = clean.clone()
    putU32(disagree, find(disagree, "avih") + 8, 99999L)
    val v1 = graft.llm.LlmTestAccess.parseAvi(disagree).get
    assert(v1.microSecPerFrame == 40000L, v1.toString)
    // strh rate zeroed on top: falls back to (the mangled) avih value
    val zeroRate = disagree.clone()
    putU32(zeroRate, find(zeroRate, "strh") + 8 + 24, 0L)
    val v2 = graft.llm.LlmTestAccess.parseAvi(zeroRate).get
    assert(v2.microSecPerFrame == 99999L, v2.toString)
    // a crafted chunk size near 2^31 is rejected structurally (the Long
    // bound check), not via an out-of-bounds read
    val huge = clean.clone()
    putU32(huge, find(huge, "avih") + 4, 0xfffffff0L)
    assert(graft.llm.LlmTestAccess.parseAvi(huge).isEmpty)
  }

  test("AVI parsers reject deeply nested LIST chunks as None, not a stack overflow") {
    // 50,000 LISTs nested inside each other, each tiling its parent
    // exactly: 600 KB, structurally valid RIFF apart from the depth
    val depth = 50000
    val buf = java.nio.ByteBuffer.allocate(12 + 12 * depth)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(s: String) = buf.put(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    tag("RIFF"); buf.putInt(buf.capacity - 8); tag("AVI ")
    (0 until depth).foreach { i =>
      tag("LIST"); buf.putInt(buf.capacity - (12 + 12 * i) - 8); tag("movi")
    }
    val nested = buf.array
    // a small stack makes the overflow certain for an unbounded walk
    var results: Seq[Boolean] = Nil
    var error: Throwable = null
    val t = new Thread(null, () =>
      try results = Seq(graft.llm.LlmTestAccess.parseAvi(nested).isEmpty,
        graft.llm.LlmTestAccess.parseAviAudio(nested).isEmpty,
        graft.llm.LlmTestAccess.extractAudioBlob(nested)._2 == "unsupported")
      catch { case e: Throwable => error = e }, "avi-nesting", 512L * 1024)
    t.start(); t.join()
    assert(error == null, s"parser threw $error")
    assert(results == Seq(true, true, true))
  }

  test("per-line mojibake repair inverts independent per-line mangling exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    val fixer = new graft.functions.MojibakeFixer(3, perLine = true)
    def mangle(s: String) =
      new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
    // anchor chars are > U+00FF and outside the cp1252 row: the ORIGINAL
    // line can never itself byte-map, so repair stops at exactly k
    val anchors = Seq('κ', '漢', '☃')
    val lineGen = for {
      body <- Gen.listOf(Gen.frequency(
        6 -> Gen.alphaNumChar,
        2 -> Gen.oneOf('é', 'à', 'ñ', '—', '“', '”', ' '),
        1 -> Gen.const(' '))).map(_.mkString.take(24))
      anchor <- Gen.oneOf(anchors)
      k <- Gen.choose(0, 2)
    } yield (body + anchor, k)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(lineGen).map(_.take(8))) { lines =>
      val mangled = lines.map { case (orig, k) =>
        (1 to k).foldLeft(orig)((acc, _) => mangle(acc))
      }.mkString("\n")
      val row = fixer.fix(UTF8String.fromString(mangled))
      row.getUTF8String(0).toString == lines.map(_._1).mkString("\n") &&
        row.getInt(1) == lines.map(_._2).max
    })
  }
}

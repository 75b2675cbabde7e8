package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random


/** One generated document with its planted ground truth.
  *
  * `expectReason` is the stage-2 drop reason the engine must assign, or
  * null for a document that must pass stages 2, 3 and 6. `exactKey`
  * groups documents whose text is identical after canonicalisation;
  * `nearKey` groups documents that share their first 500 canonical
  * characters (an original and its near copies). `piiToken` is the
  * planted e-mail address of a PII document, which masking must remove.
  */
final case class GenDoc(docId: Long, text: String, lang: String,
                        source: String, kind: String, expectReason: String,
                        exactKey: Long, nearKey: Long, piiToken: String)

/** Shape of a generated corpus. Fractions are per document slot. */
final case class CorpusSpec(docs: Int, files: Int, meanChars: Int,
                            minChars: Int, maxChars: Int,
                            exactFrac: Double, nearFrac: Double,
                            hotShare: Double, hotKeys: Int,
                            junkFrac: Double, piiFrac: Double)

/** Seeded, web-like document generator.
  *
  * English text is built from the stopwords [[graft.text.LangId]] scores
  * plus a Zipf-distributed vocabulary of pronounceable pseudo-words that
  * collide with no stopword, toxicity word or boilerplate phrase the
  * engine knows. Each file of the corpus is generated from its own
  * (seed, file) stream, and every duplicate sits after its original in
  * the same file, except copies of the global "hot" texts, which are
  * spread over all files.
  */
object Gen {

  // ---- vocabulary --------------------------------------------------------

  private val Banned: Set[String] = (graft.text.LangId.En ++
    graft.text.LangId.De ++ graft.text.LangId.Es ++ graft.text.LangId.Fr ++
    graft.text.Toxicity.BadWords ++ graft.text.Toxicity.InsultWords ++
    graft.text.Toxicity.ThreatWords ++ graft.text.Toxicity.SexualWords ++
    graft.text.Toxicity.SlurWords ++ graft.text.TextMetrics.EnStopwords ++
    Seq("cookie", "cookies", "privacy", "policy", "terms", "service",
      "rights", "reserved", "newsletter", "subscribe", "contact", "accept",
      "sign")).toSet

  /** 40k content words, fixed for every seed (the seed drives choices). */
  val Vocab: Array[String] = {
    val r = new Random(7)
    val on = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n",
      "p", "r", "s", "t", "v", "w", "z", "br", "cr", "dr", "fl", "gr", "pl",
      "pr", "st", "tr", "sh", "ch", "th")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
    val co = Array("", "", "", "n", "r", "s", "l", "nd", "st", "m", "x")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 40000) {
      val k = 1 + r.nextInt(3)
      val w = (0 until k).map(_ => on(r.nextInt(on.length)) +
        nu(r.nextInt(nu.length)) + co(r.nextInt(co.length))).mkString
      if (w.length >= 4 && !Banned(w)) seen += w
    }
    seen.toArray
  }

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(i => 1.0 / math.pow(i + 8.0, 0.9))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def word(r: Random): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    Vocab(math.min(Vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  private val En = graft.text.LangId.En.toArray
  private val Foreign = Array(graft.text.LangId.De.toArray,
    graft.text.LangId.Es.toArray, graft.text.LangId.Fr.toArray)
  private val Toxic = (graft.text.Toxicity.BadWords ++
    graft.text.Toxicity.InsultWords ++ graft.text.Toxicity.ThreatWords).toArray

  // ---- text builders -----------------------------------------------------

  /** One sentence with round(n * stopP) tokens from `stops` and
    * round(n * extraP) from `extra` at random positions, the rest from the
    * vocabulary: exact shares, so every document meets the language and
    * toxicity thresholds however short it is.
    */
  private def sentence(r: Random, sb: StringBuilder, stops: Array[String],
                       stopP: Double, extra: Array[String] = Array.empty,
                       extraP: Double = 0.0): Unit = {
    val n = 6 + r.nextInt(13)
    val nExtra = math.round(n * extraP).toInt
    val nStop = math.round(n * stopP).toInt
    val kinds = r.shuffle(Seq.fill(nExtra)(0) ++ Seq.fill(nStop)(1) ++
      Seq.fill(n - nExtra - nStop)(2))
    var number = false
    kinds.zipWithIndex.foreach { case (k, i) =>
      val t = k match {
        case 0 => extra(r.nextInt(extra.length))
        case 1 => stops(r.nextInt(stops.length))
        case _ => word(r)
      }
      if (i == 0) sb.append(t.head.toUpper).append(t.tail)
      else {
        sb.append(' ')
        // a year now and then in place of a content word, never two in a
        // row: "1987 2003" reads as a phone number
        number = k == 2 && !number && r.nextInt(12) == 0
        if (number) sb.append(1900 + r.nextInt(125))
        else sb.append(t)
      }
      if (i > 1 && i < n - 2 && r.nextInt(12) == 0) sb.append(',')
    }
    sb.append('.')
  }

  /** Paragraphs of prose until at least `chars` characters. */
  private def prose(r: Random, chars: Int, stops: Array[String] = En,
                    stopP: Double = 0.45, extra: Array[String] = Array.empty,
                    extraP: Double = 0.0): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append("\n\n")
      val k = 3 + r.nextInt(5)
      var s = 0
      while (s < k && (s == 0 || sb.length < chars)) {
        if (s > 0) sb.append(' ')
        sentence(r, sb, stops, stopP, extra, extraP)
        s += 1
      }
    }
    sb.toString
  }

  private def docLen(r: Random, s: CorpusSpec): Int = {
    val sigma = 0.5
    val mu = math.log(s.meanChars) - sigma * sigma / 2
    math.max(s.minChars, math.min(s.maxChars,
      math.exp(mu + sigma * r.nextGaussian()).toInt))
  }

  private def email(r: Random): String =
    s"${word(r)}.${word(r)}${r.nextInt(100)}@${word(r)}mail.com"

  private val Domains: Array[String] =
    Array.tabulate(40)(i => f"site$i%02d.example.org")
  val BlockedSource = "example-spam-site.com"

  private def html(r: Random): String = {
    val sb = new StringBuilder("<div id=\"main\">")
    val rows = 8 + r.nextInt(40)
    var i = 0
    while (i < rows) {
      sb.append(s" <tr><td>${r.nextInt(10000)}</td><td>${r.nextInt(100)}" +
        s"</td></tr>")
      i += 1
    }
    sb.append(" </div>").toString
  }

  /** A stage-2 junk document: (kind, lang, source, text, expected reason). */
  private def junk(r: Random, s: CorpusSpec): (String, String, String, String, String) = {
    val src = Domains(r.nextInt(Domains.length))
    r.nextInt(8) match {
      case 0 => ("null_like", "und", src,
        Seq("null", "N/A", "none", "NaN", "null value")(r.nextInt(5)),
        "null_like")
      case 1 => ("numeric", "und", src,
        (0 until 3 + r.nextInt(4)).map(_ => r.nextInt(100000)).mkString("-") +
          "." + r.nextInt(1000), "numeric_like")
      case 2 =>
        val w = Iterator.continually(word(r)).find(_.length <= 8).get
        ("short", "en", src, s"Read the $w.", "too_short_chars")
      case 3 =>
        val lang = Foreign(r.nextInt(3))
        ("foreign", Seq("de", "es", "fr")(Foreign.indexOf(lang)), src,
          prose(r, docLen(r, s), lang), "non_english")
      case 4 => ("blocked", "en", BlockedSource, prose(r, docLen(r, s)),
        "blocked_url")
      case 5 => ("toxic", "en", src,
        prose(r, docLen(r, s), En, 0.42, Toxic, 0.35), "high_toxicity")
      case 6 => ("html", "und", src, html(r), "lang_unknown")
      case _ =>
        val sb = new StringBuilder(prose(r, 300))
        (0 until 25).foreach { _ =>
          sb.append(" Write to ").append(email(r)).append(" for the notes.")
        }
        ("contact_list", "en", src, sb.toString, "pii_heavy")
    }
  }

  /** Insert a planted e-mail after the first sentence. */
  private def withPii(r: Random, text: String): (String, String) = {
    val e = email(r)
    val cut = text.indexOf(". ") + 1
    val at = if (cut > 0) cut else text.length
    (text.substring(0, at) + s" Send the notes to $e today." +
      text.substring(at), e)
  }

  /** Whitespace-only variant: identical after canonicalisation. */
  private def respace(t: String): String =
    t.replace("\n\n", "\n").replace(". ", ".  ")

  /** Near copy: the first 560+ characters of `t`, then a new tail. */
  private def nearCopy(r: Random, t: String): String = {
    val cut = t.indexOf(' ', 560)
    val head = if (cut > 0) t.substring(0, cut) else t
    head + " " + prose(r, math.max(80, t.length - head.length))
  }

  /** The global hot texts: copies of these spread over every file. */
  def hotTexts(seed: Long, s: CorpusSpec): Array[String] =
    Array.tabulate(s.hotKeys) { k =>
      val r = new Random(seed * 1000003L + 17 * k + 5)
      prose(r, math.max(700, docLen(r, s)))
    }

  /** Document ids [first, first + n) of one file. */
  def fileRange(s: CorpusSpec, f: Int): (Long, Int) = {
    val per = s.docs / s.files
    val extra = s.docs % s.files
    val first = f.toLong * per + math.min(f, extra)
    (first, per + (if (f < extra) 1 else 0))
  }

  /** Generate one file of the corpus. */
  def genFile(seed: Long, s: CorpusSpec, f: Int): Seq[GenDoc] = {
    val r = new Random(seed * 7919L + f)
    val hot = hotTexts(seed, s)
    val hotW = Array.tabulate(s.hotKeys)(k => 1.0 / (k + 1))
    val (first, n) = fileRange(s, f)
    val out = new ArrayBuffer[GenDoc](n)
    val originals = new ArrayBuffer[GenDoc]()
    def english(id: Long): GenDoc = {
      val d = GenDoc(id, prose(r, docLen(r, s)), "en",
        Domains(r.nextInt(Domains.length)), "unique", null, id, id, null)
      if (d.text.length >= 640) originals += d
      d
    }
    def pickOriginal(): GenDoc =
      if (s.hotShare > 0) { // skewed: low indexes get most copies
        val i = (originals.length * math.pow(r.nextDouble(), 3)).toInt
        originals(math.min(i, originals.length - 1))
      } else originals(r.nextInt(originals.length))
    var i = 0
    while (i < n) {
      val id = first + i
      val src = Domains(r.nextInt(Domains.length))
      val u = r.nextDouble()
      val dupP = s.exactFrac + s.nearFrac
      val doc =
        if (u < s.junkFrac) {
          val (kind, lang, source, text, reason) = junk(r, s)
          GenDoc(id, text, lang, source, kind, reason, id, id, null)
        } else if (u < s.junkFrac + dupP && (originals.nonEmpty || s.hotKeys > 0)) {
          if (s.hotKeys > 0 && (originals.isEmpty || r.nextDouble() < s.hotShare)) {
            var k = 0
            var x = r.nextDouble() * hotW.sum
            while (k < s.hotKeys - 1 && x >= hotW(k)) { x -= hotW(k); k += 1 }
            GenDoc(id, hot(k), "en", src, "hot", null, -1L - k, -1L - k, null)
          } else {
            val o = pickOriginal()
            if (u < s.junkFrac + s.exactFrac)
              GenDoc(id, if (r.nextInt(3) == 0) respace(o.text) else o.text,
                "en", src, "exact", null, o.exactKey, o.nearKey, null)
            else
              GenDoc(id, nearCopy(r, o.text), "en", src, "near", null, id,
                o.nearKey, null)
          }
        } else if (u < s.junkFrac + dupP + s.piiFrac) {
          val (t, e) = withPii(r, prose(r, docLen(r, s)))
          GenDoc(id, t, "en", src, "pii", null, id, id, e)
        } else english(id)
      out += doc
      i += 1
    }
    out.toSeq
  }

  // ---- the snapshot delta of the incremental workload --------------------

  /** Next snapshot of file `f`: drops `removeFrac` of documents, rewrites
    * `changeFrac` with new unique text under the same id (so the same
    * URL), and appends `addFrac` new documents, a third of them copies of
    * the hot texts (when the corpus has any). Removed ids are the base ids
    * missing from the result.
    */
  def nextSnapshot(seed: Long, s: CorpusSpec, f: Int, base: Seq[GenDoc],
                   changeFrac: Double, addFrac: Double,
                   removeFrac: Double): Seq[GenDoc] = {
    val r = new Random(seed * 104729L + 31 * f + 1)
    val hot = hotTexts(seed, s)
    val kept = base.flatMap { d =>
      val u = r.nextDouble()
      if (u < removeFrac) None
      else if (u < removeFrac + changeFrac)
        Some(GenDoc(d.docId, prose(r, docLen(r, s)), "en", d.source,
          "changed", null, d.docId, d.docId, null))
      else Some(d)
    }
    val n = fileRange(s, f)._2
    val nAdd = math.max(1, (n * addFrac).toInt)
    // added ids sit past every base id: docs + (file, slot)
    val added = (0 until nAdd).map { j =>
      val id = s.docs.toLong + f.toLong * nAdd + j
      val src = Domains(r.nextInt(Domains.length))
      if (s.hotKeys > 0 && j % 3 == 0) {
        val k = r.nextInt(s.hotKeys)
        GenDoc(id, hot(k), "en", src, "added_hot", null, -1L - k, -1L - k, null)
      } else GenDoc(id, prose(r, docLen(r, s)), "en", src, "added", null,
        id, id, null)
    }
    kept ++ added
  }

  // ---- parquet output ----------------------------------------------------

  private val DocSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message documents { required int64 doc_id; optional binary text (UTF8);
      |optional binary lang (UTF8); optional binary source (UTF8);
      |required int64 n_chars; }""".stripMargin)
  private val TruthSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message truth { required int64 gen_id; optional binary kind (UTF8);
      |optional binary expect_reason (UTF8); required int64 exact_key;
      |required int64 near_key; optional binary pii_token (UTF8); }""".stripMargin)

  private def writer(path: String, schema: org.apache.parquet.schema.MessageType) =
    org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()

  /** Write `documents.parquet` in the sf layout `graft.Tables` reads (one
    * part file per generated file, rows in generation order) and the
    * ground truth beside it, outside the sf directory. Files are
    * generated in parallel, without Spark.
    */
  def write(files: Int, gen: Int => Seq[GenDoc], sfDir: String,
            truthPath: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val docF = new SimpleGroupFactory(DocSchema)
    val truthF = new SimpleGroupFactory(TruthSchema)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val tasks = (0 until files).map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val docs = gen(f)
            val dw = writer(f"$sfDir/documents.parquet/part-$f%05d.parquet", DocSchema)
            val tw = writer(f"$truthPath/part-$f%05d.parquet", TruthSchema)
            try docs.foreach { d =>
              val g = docF.newGroup().append("doc_id", d.docId)
              if (d.text != null) g.append("text", d.text)
              g.append("lang", d.lang).append("source", d.source)
                .append("n_chars", if (d.text == null) 0L else d.text.length.toLong)
              dw.write(g)
              val t = truthF.newGroup().append("gen_id", d.docId).append("kind", d.kind)
              if (d.expectReason != null) t.append("expect_reason", d.expectReason)
              t.append("exact_key", d.exactKey).append("near_key", d.nearKey)
              if (d.piiToken != null) t.append("pii_token", d.piiToken)
              tw.write(t)
            } finally { dw.close(); tw.close() }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Clustered embeddings (dim 64, ten labelled clusters) and a
    * lineitem table in the sf layout, as the query panel reads them.
    */
  def writePanelTables(seed: Long, sfDir: String, nEmb: Int, nLine: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.schema.MessageTypeParser.parseMessageType
    val embSchema = parseMessageType(
      """message embeddings { required int64 vec_id;
        |optional group embedding (LIST) { repeated group list { required float element; } }
        |required int32 label; }""".stripMargin)
    val r = new Random(seed * 31 + 3)
    val dim = 64
    val centers = Array.fill(10, dim)(r.nextGaussian().toFloat)
    val ew = writer(s"$sfDir/embeddings.parquet/part-00000.parquet", embSchema)
    val ef = new SimpleGroupFactory(embSchema)
    try (0 until nEmb).foreach { i =>
      val label = r.nextInt(10)
      val g = ef.newGroup().append("vec_id", i.toLong)
      val lst = g.addGroup("embedding")
      centers(label).foreach(c =>
        lst.addGroup("list").append("element", c + 0.35f * r.nextGaussian().toFloat))
      ew.write(g.append("label", label))
    } finally ew.close()
    val liSchema = parseMessageType(
      """message lineitem { required int64 l_orderkey; required int64 l_partkey;
        |required int64 l_suppkey; required int32 l_linenumber;
        |required double l_quantity; required double l_extendedprice;
        |required double l_discount; required double l_tax;
        |required binary l_returnflag (UTF8); required binary l_linestatus (UTF8);
        |required int64 l_shipdate (TIMESTAMP(MICROS,false)); }""".stripMargin)
    val lw = writer(s"$sfDir/lineitem.parquet/part-00000.parquet", liSchema)
    val lf = new SimpleGroupFactory(liSchema)
    def cents(x: Double) = math.round(x * 100) / 100.0
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay * 86400L * 1000000L
    try (0 until nLine).foreach { i =>
      lw.write(lf.newGroup()
        .append("l_orderkey", i / 4L).append("l_partkey", r.nextInt(20000).toLong)
        .append("l_suppkey", r.nextInt(1000).toLong).append("l_linenumber", i % 4 + 1)
        .append("l_quantity", (1 + r.nextInt(50)).toDouble)
        .append("l_extendedprice", cents(900 + 100000 * r.nextDouble()))
        .append("l_discount", cents(0.10 * r.nextDouble()))
        .append("l_tax", cents(0.08 * r.nextDouble()))
        .append("l_returnflag", "ANR".charAt(r.nextInt(3)).toString)
        .append("l_linestatus", "FO".charAt(r.nextInt(2)).toString)
        .append("l_shipdate", day0 + r.nextInt(2500) * 86400L * 1000000L))
    } finally lw.close()
  }

}

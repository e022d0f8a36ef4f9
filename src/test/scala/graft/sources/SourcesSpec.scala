package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  describe("mmCIF tokenizer") {
    it("splits on whitespace and honors quotes") {
      assert(Readers.tokenizeCifLine("1 'MIDDLE EAST' x") ===
        Seq("1", "MIDDLE EAST", "x"))
      assert(Readers.tokenizeCifLine("""a "b c" d""") === Seq("a", "b c", "d"))
    }
  }

  describe("flat-record field parser") {
    it("keeps the first value of repeated keys (reference parser semantics)") {
      val df = Seq("ID  first\nDE  desc here\nID  second").toDF("record")
        .select(Readers.recordFields(col("record")).as("f"))
      val m = df.select(col("f").getItem("ID"), col("f").getItem("DE"))
        .as[(String, String)].head()
      assert(m === (("first", "desc here")))
    }
  }

  describe("Neo4j sink (A10)") {
    it("writes typed headers, gzip, and |-serialized arrays") {
      val dir = Fixtures.scratchDir("neo4j_sink")
      val df = Seq((1L, "x", Seq("a", "b"), 0.5))
        .toDF("id", "name", "tags", "score")
      Sinks.neo4jTsv(df, dir, Map("id" -> "id:ID(test)"))
      val files = new java.io.File(s"$dir/data").listFiles
        .filter(_.getName.endsWith(".gz"))
      assert(files.nonEmpty, "gzip part files written")
      val back = Sinks.readNeo4jTsv(spark, dir)
      assert(back.columns.toSet ===
        Set("id:ID(test)", "name", "tags:string[]", "score:float"))
      assert(back.select("`tags:string[]`").as[String].head() === "a|b")
    }
  }

  describe("Neo4j sink line formatting (r13 text-writer fast path)") {
    it("emits byte-identical lines to the univocity CSV writer over the sink value domain") {
      // The per-table sink formats the whole line as one codegen
      // expression and writes through the text writer (the 78M-row
      // has_similarity_rels sink spent 364 CPU-s in univocity's per-field
      // conversion at sf0.1). The export contract is unchanged ONLY if
      // the bytes are: this pins the new path against a reference
      // `.csv()` write (the old pipeline verbatim — arrays pre-joined
      // with '|', sep '\t', emptyValue "") across the sink value-type
      // domain incl. the formatting-sensitive doubles (x.0, thirds,
      // scientific notation) and null/empty strings and arrays.
      val dir = Fixtures.scratchDir("neo4j_bytes")
      val df = Seq(
        (1L, "plain name", Seq("a", "b"), 0.97),
        (2L, null.asInstanceOf[String], Seq.empty[String], 1.0),
        (3L, "", null.asInstanceOf[Seq[String]], 1.0 / 3.0),
        (4L, "UPPER lower 42", Seq("only"), 1.0e-4),
        // internal whitespace only: univocity's WRITE path trims EDGE
        // whitespace by default (ignore*WhiteSpace=true on write), the
        // text writer is verbatim — a deliberate difference the sink
        // value domain never exercises (every name is trim()ed upstream,
        // ids/codes are synthesized), asserted separately below
        (5L, "internal  spaces  kept", Seq("x", "y", "z"),
          123456789.123456789),
        (Long.MaxValue, "max", Seq("notsep"), -0.25))
        .toDF("id", "name", "tags", "score")
      Sinks.neo4jTsv(df, s"$dir/fast", Map("id" -> "id:ID(b)"))
      // reference: the pre-r13 writer pipeline, verbatim
      df.select(col("id"), col("name"),
          concat_ws("|", col("tags")).as("tags"), col("score"))
        .write.mode("overwrite")
        .option("sep", "\t").option("header", "false")
        .option("emptyValue", "").csv(s"$dir/ref")
      def lines(d: String): Seq[String] = {
        val fs = new java.io.File(d).listFiles
          .filter(f => f.getName.startsWith("part-"))
        fs.toSeq.flatMap { f =>
          val in: java.io.InputStream =
            if (f.getName.endsWith(".gz"))
              new java.util.zip.GZIPInputStream(
                new java.io.FileInputStream(f))
            else new java.io.FileInputStream(f)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList
          finally in.close()
        }.sorted
      }
      assert(lines(s"$dir/fast/data") === lines(s"$dir/ref"))
      // the one deliberate divergence: edge whitespace is written
      // VERBATIM (the old univocity path trimmed it — a silent mutation
      // of the value; no real sink column carries edge whitespace)
      val dir2 = Fixtures.scratchDir("neo4j_edgews")
      Sinks.neo4jTsv(Seq((1L, "pad ")).toDF("id", "v"), dir2)
      assert(lines(s"$dir2/data") === Seq("1\tpad "))
    }

    it("ENFORCES the no-tab/newline domain: a violating value fails the " +
       "write loudly (ADVICE r13) instead of corrupting the import") {
      // string column with a tab, and an array element with a newline —
      // both must fail; the guard is the single-scan TsvSafe expression
      // the violation may surface as the raw IllegalArgumentException
      // (constant-folded / local-relation inputs evaluate at the driver)
      // or wrapped in a SparkException from a failed task — either way
      // the write must FAIL with the domain message, never corrupt bytes
      def violates(body: => Unit): Unit = {
        val ex = intercept[Exception](body)
        val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).take(6)
          .flatMap(t => Option(t.getMessage)).mkString(" | ")
        assert(msgs.contains("TSV domain violation"), s"wrong failure: $msgs")
      }
      Seq("bad\tvalue", "bad\nvalue", "bad\rvalue").foreach { v =>
        val dir = Fixtures.scratchDir("neo4j_guard")
        violates(Sinks.neo4jTsv(Seq((1L, v)).toDF("id", "v"), dir))
      }
      val dirA = Fixtures.scratchDir("neo4j_guard_arr")
      violates(Sinks.neo4jTsv(Seq((1L, Seq("ok", "bad\telem")))
        .toDF("id", "tags"), dirA))
    }

    it("rejects '|' inside an array element, which the import would split in two") {
      def violation(body: => Unit): String = {
        val ex = intercept[Exception](body)
        Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).take(6)
          .flatMap(t => Option(t.getMessage)).mkString(" | ")
      }
      val dir = Fixtures.scratchDir("neo4j_guard_pipe")
      val msgs = violation(Sinks.neo4jTsv(Seq((1L, Seq("a|b")))
        .toDF("id", "tags"), dir))
      assert(msgs.contains("TSV domain violation"), s"wrong failure: $msgs")
      // a plain string column may still carry '|': only arrays are split
      Sinks.neo4jTsv(Seq((1L, "a|b", Seq("a", "b"))).toDF("id", "v", "tags"), dir)
      assert(Sinks.readNeo4jTsv(spark, dir).as[(String, String, String)]
        .collect().toSeq === Seq(("1", "a|b", "a|b")))
    }
  }

  describe("Neo4j dimension sink (A10 dimension form)") {
    it("one part file per table, read back, byte-deterministic, empty tables materialized, tabs rejected") {
      // neo4jTsvDimension writes a dimension-bounded table's sorted lines
      // from the driver as exactly one data part next to its header
      val root = Fixtures.scratchDir("neo4j_dim")
      val tbls = Seq(
        ("t_a", Seq((2L, "y"), (1L, "x")).toDF("id", "v"),
          Map("id" -> "id:ID(a)")),
        ("t_b", Seq((9L, "z")).toDF("id", "v"), Map("id" -> "id:ID(b)")),
        ("t_empty", Seq.empty[(Long, String)].toDF("id", "v"),
          Map("id" -> "id:ID(e)")))
      def writeAll(): Unit = tbls.foreach { case (name, df, hdr) =>
        Sinks.neo4jTsvDimension(df, s"$root/$name", hdr)
      }
      def parts(name: String): Seq[java.io.File] =
        new java.io.File(s"$root/$name/data").listFiles
          .filter(_.getName.endsWith(".csv.gz")).toSeq
      writeAll()
      tbls.foreach { case (name, _, _) =>
        assert(parts(name).map(_.getName) === Seq("part-00000.csv.gz"),
          s"$name: exactly one part file")
      }
      assert(Sinks.readNeo4jTsv(spark, s"$root/t_a").columns.toSeq ===
        Seq("id:ID(a)", "v"))
      assert(Sinks.readNeo4jTsv(spark, s"$root/t_a")
        .as[(String, String)].collect().toSet === Set(("1", "x"), ("2", "y")))
      assert(Sinks.readNeo4jTsv(spark, s"$root/t_b")
        .as[(String, String)].collect().toSet === Set(("9", "z")))
      // zero rows: a valid, empty gzip part, so readers of data/ see a file
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(parts("t_empty").head))
      try assert(in.read() === -1) finally in.close()
      // byte-determinism: a re-run writes identical part bytes
      def bytes(): Seq[Seq[Byte]] = tbls.map { case (name, _, _) =>
        Files.readAllBytes(parts(name).head.toPath).toSeq
      }
      val before = bytes()
      writeAll()
      assert(bytes() === before, "dimension sink re-run not byte-deterministic")
      // the TsvSafe guard stays in the projection: a tab fails the write
      val ex = intercept[Exception](Sinks.neo4jTsvDimension(
        Seq((1L, "bad\tvalue")).toDF("id", "v"), s"$root/t_bad"))
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).take(6)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("TSV domain violation"), s"wrong failure: $msgs")
    }
  }

  describe("mmCIF multi-file scan") {
    it("re-keys each file by its own declared field order") {
      val dir = Files.createDirectories(
        java.nio.file.Paths.get(Fixtures.scratchDir("mmcif_multi"))).toString
      // same category, fields declared in DIFFERENT order per file
      Files.writeString(java.nio.file.Paths.get(dir, "a.cif"),
        "data_a\nloop_\n_t.key\n_t.name\n1 one\n2 two\n#\n")
      Files.writeString(java.nio.file.Paths.get(dir, "b.cif"),
        "data_b\nloop_\n_t.name\n_t.key\nthree 3\n#\n")
      val out = Readers.mmcifCategory(spark, dir, "t")
        .select("key", "name").as[(String, String)].collect().toSet
      assert(out === Set(("1", "one"), ("2", "two"), ("3", "three")))
    }
  }

  describe("skew-chunked split (A11)") {
    it("routes NULL-weight rows to the light side — no row is lost") {
      val df = Seq((1L, Some(10.0)), (2L, None), (3L, Some(1.0)))
        .toDF("id", "w")
      val (heavy, light) = Sinks.skewSplitAt(df, "w", 5.0, 100)
      assert(heavy.select("id").as[Long].collect().toSet === Set(1L))
      assert(light.select("id").as[Long].collect().toSet === Set(2L, 3L))
    }
  }

  describe("skew-chunked split (A11)") {
    it("isolates heavy rows one-per-partition, packs light rows by chunk") {
      val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "w")
      val (heavy, light) = Sinks.skewSplit(df, "w", 0.9, 20)
      val nHeavy = heavy.count()
      assert(nHeavy >= 9 && nHeavy <= 11)
      assert(heavy.rdd.getNumPartitions === nHeavy.toInt)
      // ~90 light rows / 20 per chunk → 5 partitions
      assert(light.rdd.getNumPartitions === math.ceil(light.count() / 20.0).toInt)
    }
  }
}

package graft

import org.apache.spark.sql.types._
import graft.sources._
import graft.pipes._
import graft.exec.Flow
import graft.model.CFields

/** Source/sink schemes (SURVEY.md §2.2) + set ops + assembly sugar. */
class TapsSpec extends SparkSpec {
  import spark.implicits._
  implicit def s: org.apache.spark.sql.SparkSession = spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("taps").toString

  test("parquet tap round-trip with numSinkParts") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("n", "c")
    val tap = ParquetTap(s"$dir/t", parts = Some(2))
    tap.write(df, SinkMode.Replace)
    assert(tap.read(spark).count() == 2)
    // Keep mode refuses to overwrite
    intercept[Exception] {
      ParquetTap(s"$dir/t").write(df, SinkMode.Keep)
    }
    // Update appends
    ParquetTap(s"$dir/t").write(df, SinkMode.Update)
    assert(tap.read(spark).count() == 4)
  }

  test("csv tap: delimiter, header, schema") {
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("num", IntegerType), StructField("ch", StringType)))
    val df = Seq((7, "x")).toDF("num", "ch")
    val tap = CsvTap(s"$dir/c", delimiter = "\t", header = true, Some(schema))
    tap.write(df, SinkMode.Replace)
    val back = tap.read(spark)
    assert(back.schema("num").dataType == IntegerType)
    assert(back.collect().head.getInt(0) == 7)
  }

  test("orc tap round-trip preserves types and values") {
    val dir = tmp()
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("k", "s", "v")
    val tap = OrcTap(s"$dir/o", parts = Some(2))
    tap.write(df, SinkMode.Replace)
    val back = tap.read(spark)
    assert(back.schema("k").dataType == LongType)
    assert(back.schema("v").dataType == DoubleType)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet == Set((1L, "a", 1.5), (2L, "b", -2.25)))
  }

  test("jsonl tap: schema-on-read, doubles round-trip exactly") {
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    val df = Seq((7L, 0.1), (8L, 1e-300)).toDF("k", "v")
    val tap = JsonLinesTap(s"$dir/j", Some(schema))
    tap.write(df, SinkMode.Replace)
    val back = tap.read(spark).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((7L, 0.1), (8L, 1e-300)))
  }

  test("text-line tap exposes `line`") {
    val dir = tmp()
    val df = Seq("hello", "world").toDF("line")
    val tap = TextLineTap(s"$dir/l")
    tap.write(df, SinkMode.Replace)
    assert(tap.read(spark).columns.toSeq == Seq("line"))
    assert(tap.read(spark).count() == 2)
  }

  test("partition tap writes directory-per-value layout") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("n", "part")
    PartitionTap(ParquetTap(s"$dir/p"), Seq("part")).write(df, SinkMode.Replace)
    val dirs = new java.io.File(s"$dir/p").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("part=a", "part=b"))
    // partition pruning reads only one directory
    val pruned = spark.read.parquet(s"$dir/p").filter($"part" === "a")
    assert(pruned.count() == 2)
  }

  test("partition tap: special characters in partition VALUES " +
       "escape on disk and round-trip exactly (the Hadoop-vs-Spark " +
       "path-encoding corner — upstream PartitionTap builds literal " +
       "key/value paths; Spark URL-escapes the reserved set)") {
    val dir = tmp()
    val vals = Seq("a=b", "x/y", "sp ace", "co:lon", "plain")
    val df = vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("n", "part")
    PartitionTap(ParquetTap(s"$dir/p"), Seq("part")).write(df, SinkMode.Replace)
    // every value round-trips byte-exactly, whatever the dir spelling
    val back = spark.read.parquet(s"$dir/p")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == vals.zipWithIndex.map { case (v, i) => (i, v) }.toSet)
    // and the reserved characters never appear raw in directory names
    // (they'd break path parsing on read — the divergence this corner
    // keeps fixed)
    val dirs = new java.io.File(s"$dir/p").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(d => !d.drop("part=".length).contains("/")))
    // pruning still works through the escaping
    assert(spark.read.parquet(s"$dir/p")
      .filter($"part" === "a=b").count() == 1)
  }

  test("sequence-file tap key/value round-trip with sink modes") {
    val dir = tmp()
    val df = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    val tap = SequenceFileTap(s"$dir/sf")
    tap.write(df, SinkMode.Replace)
    val back = tap.read(spark).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("k1", "v1"), ("k2", "v2")))
    intercept[IllegalStateException] { tap.write(df, SinkMode.Keep) }
    tap.write(df, SinkMode.Replace) // replace succeeds over existing
  }

  test("intersect and except lower to set semantics") {
    val a = Pipe.source(DataFrameTap(Seq(1, 2, 2, 3).toDF("n")))
    val b = Pipe.source(DataFrameTap(Seq(2, 3, 4).toDF("n")))
    assert(Flow.toDF(a.intersect(b)).collect().map(_.getInt(0)).toSet == Set(2, 3))
    assert(Flow.toDF(a.except(b)).collect().map(_.getInt(0)).toSet == Set(1))
  }

  test("aggregateBy sugar: countBy/sumBy") {
    val df = Seq(("a", 1), ("a", 2), ("b", 5)).toDF("k", "v")
    val p = Pipe.source(DataFrameTap(df))
    val counts = Flow.toDF(p.countBy(Seq("k"), "n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 2L, "b" -> 1L))
    val sums = Flow.toDF(p.sumBy(Seq("k"), "v", "s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("a" -> 3L, "b" -> 5L))
  }

  test("multi-sink flow lowers the shared DAG once") {
    val dir = tmp()
    val base = Pipe.source(DataFrameTap(
        Seq((1, "a"), (2, "b"), (3, "c")).toDF("n", "c")))
      .filterBy(SqlFilter("n > 1"))
    val evens = base.filterBy(SqlFilter("n % 2 = 0"))
    val odds = base.filterBy(SqlFilter("n % 2 = 1"))
    Flow.writeAll(Seq(
      (evens, ParquetTap(s"$dir/evens"), SinkMode.Replace),
      (odds, ParquetTap(s"$dir/odds"), SinkMode.Replace)))
    assert(spark.read.parquet(s"$dir/evens").count() == 1)
    assert(spark.read.parquet(s"$dir/odds").count() == 1)
  }

  test("per-pipe ConfigDef options reach only their own scan") {
    val dir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"), "1;x\n2;y\n3;z\n")
    val tap = CsvTap(s"$dir/data.csv")
    // configured branch: per-pipe delimiter override → 2 columns
    val configured = Pipe.source(tap).withConfig("delimiter" -> ";")
    // unconfigured branch over the SAME tap object → default "," → 1 column
    val plain = Pipe.source(tap)
    val lowering = new graft.exec.Lowering(spark)
    assert(lowering.lower(configured).columns.length == 2)
    assert(lowering.lower(plain).columns.length == 1)
  }

  test("ConfigurableOp receives the enclosing withConfig properties") {
    var got: Map[String, String] = Map.empty
    val fn = new CRowFunction with ConfigurableOp {
      val resultFields: CFields = CFields.typed("out" -> IntegerType)
      private var factor = 1 // set at configure time, serialized to executors
      def configure(props: Map[String, String]): Unit = {
        got = props
        factor = props.getOrElse("graft.factor", "1").toInt
      }
      def apply(args: org.apache.spark.sql.Row): Iterator[Seq[Any]] =
        Iterator.single(Seq(args.getInt(0) * factor))
    }
    val p = Pipe.source(DataFrameTap(Seq(2, 3).toDF("n")))
      .eachRow(fn, out = graft.model.FieldSelector.Results)
      .withConfig("graft.factor" -> "10")
    val out = Flow.toDF(p).collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Map("graft.factor" -> "10"))
    assert(out == Seq(20, 30))
  }

  test("TextLineTap with offsets exposes the Cascading (offset, line) layout") {
    val dir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t.txt"), "ab\ncdef\ng\n")
    val rows = TextLineTap(s"$dir/t.txt", offsets = true).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "ab"), (3L, "cdef"), (8L, "g")))
  }

  test("generic HadoopTap reads and writes an arbitrary InputFormat") {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    import org.apache.hadoop.mapreduce.lib.output.TextOutputFormat
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val dir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.txt"), "alpha\nbeta\n")
    val tap = HadoopTap[LongWritable, Text](
      s"$dir/in.txt", classOf[TextInputFormat],
      classOf[LongWritable], classOf[Text],
      StructType(Seq(StructField("offset", LongType), StructField("line", StringType))),
      (k, v) => org.apache.spark.sql.Row(k.get(), v.toString))
    val df = tap.read(spark)
    assert(df.collect().map(_.getString(1)).sorted.toSeq == Seq("alpha", "beta"))
    // write path via an OutputFormat
    val out = HadoopTap[Text, Text](
      s"$dir/out",
      classOf[org.apache.hadoop.mapreduce.lib.input.SequenceFileInputFormat[Text, Text]],
      classOf[Text], classOf[Text],
      StructType(Seq(StructField("k", StringType), StructField("v", StringType))),
      (_, _) => org.apache.spark.sql.Row(),
      fromRow = Some(r => (new Text(r.getString(0)), new Text(r.getString(1)))),
      outputFormat = Some(classOf[TextOutputFormat[Text, Text]]))
    out.write(Seq(("a", "1"), ("b", "2")).toDF("k", "v"), SinkMode.Replace)
    val back = spark.read.text(s"$dir/out").collect().map(_.getString(0)).sorted
    assert(back.toSeq == Seq("a\t1", "b\t2"))
  }

  test("ConfigDef modes layer like Cascading: process-default / replace / update") {
    // mirrors the reference's FlinkConfigDefScheme assertions
    // (src/test/java/.../platform/util/FlinkConfigDefScheme.java:55-66):
    // a process-level "default" property survives into every scope, a
    // REPLACE scope overrides the process value, a DEFAULT scope yields
    // to it, and UPDATE comma-appends
    val proc = Map("default" -> "process-default", "replace" -> "process-replace")
    // the scope applies to the SUBTREE under withConfig*, so the observing
    // op goes inside and the config wrapper outside
    def observe(wrap: Pipe => Pipe): Map[String, String] = {
      var got: Map[String, String] = Map.empty
      val fn = new CRowFunction with ConfigurableOp {
        val resultFields: CFields = CFields.typed("out" -> IntegerType)
        def configure(props: Map[String, String]): Unit = got = props
        def apply(args: org.apache.spark.sql.Row): Iterator[Seq[Any]] =
          Iterator.single(Seq(args.getInt(0)))
      }
      val inner = Pipe.source(DataFrameTap(Seq(1).toDF("n")))
        .eachRow(fn, out = graft.model.FieldSelector.Results)
      new graft.exec.Lowering(spark, processConfig = proc)
        .lower(wrap(inner)).count()
      got
    }
    // REPLACE overrides the process value; untouched keys pass through
    val rep = observe(_.withConfig("replace" -> "node-replace"))
    assert(rep("replace") == "node-replace")
    assert(rep("default") == "process-default")
    // DEFAULT yields to the process value, but sets absent keys
    val dfl = observe(
      _.withConfigDefault("replace" -> "ignored", "fresh" -> "node-fresh"))
    assert(dfl("replace") == "process-replace")
    assert(dfl("fresh") == "node-fresh")
    // UPDATE comma-appends to the outer value (Cascading's list mode)
    val upd = observe(_.withConfigUpdate("replace" -> "extra"))
    assert(upd("replace") == "process-replace,extra")
    // nested scopes: inner REPLACE wins over outer REPLACE, both over process
    val nested = observe(
      _.withConfig("replace" -> "inner").withConfig("replace" -> "outer"))
    assert(nested("replace") == "inner")
  }

  test("WritableCoercion: typed round-trip for every supported Writable") {
    import org.apache.hadoop.io._
    import graft.sources.WritableCoercion._
    import org.apache.spark.sql.types._
    val cases: Seq[(Class[_ <: Writable], Any, DataType)] = Seq(
      (classOf[LongWritable], 42L, LongType),
      (classOf[IntWritable], 7, IntegerType),
      (classOf[DoubleWritable], 2.5, DoubleType),
      (classOf[FloatWritable], 1.5f, FloatType),
      (classOf[BooleanWritable], true, BooleanType),
      (classOf[Text], "héllo", StringType))
    for ((cls, v, dt) <- cases) {
      assert(dataTypeOf(cls) == dt, cls.toString)
      assert(toNative(fromNative(v, cls)) == v, cls.toString)
    }
    // BytesWritable copies (record readers reuse instances) and strips
    // the backing buffer's padding
    val bw = new BytesWritable()
    bw.set(Array[Byte](1, 2, 3), 0, 3)
    val bytes = toNative(bw).asInstanceOf[Array[Byte]]
    assert(bytes.toSeq == Seq[Byte](1, 2, 3))
    bw.set(Array[Byte](9), 0, 1) // mutating the source must not alias
    assert(bytes.toSeq == Seq[Byte](1, 2, 3))
    assert(dataTypeOf(classOf[NullWritable]) == NullType)
    assert(toNative(NullWritable.get()) == null)
  }

  test("WritableCoercion: null values fail loudly, never coerce to 0/'null'") {
    import org.apache.hadoop.io._
    import graft.sources.WritableCoercion._
    // a silent String.valueOf(null) would write the literal Text "null";
    // a null numeric would unbox to 0 — both round-trip WRONG values
    for (cls <- Seq(classOf[Text], classOf[LongWritable], classOf[IntWritable],
        classOf[DoubleWritable], classOf[BooleanWritable], classOf[BytesWritable])) {
      val ex = intercept[UnsupportedOperationException] { fromNative(null, cls) }
      assert(ex.getMessage.contains("null"), cls.toString)
      assert(ex.getMessage.contains("sentinel"), cls.toString)
    }
    // NullWritable is the one Writable whose value IS null
    assert(fromNative(null, classOf[NullWritable]) == NullWritable.get())
  }

  test("WritableCoercion: unsupported Writables fail with the directed error") {
    import org.apache.hadoop.io._
    val ex = intercept[UnsupportedOperationException] {
      graft.sources.WritableCoercion.dataTypeOf(classOf[MapWritable])
    }
    assert(ex.getMessage.contains("not coercible"))
    assert(ex.getMessage.contains("tap boundary"))
    // and the derived-tap factory surfaces it at CONSTRUCTION, not deep
    // inside a job
    val ex2 = intercept[UnsupportedOperationException] {
      graft.sources.HadoopTap.writables(
        "/tmp/never",
        classOf[org.apache.hadoop.mapreduce.lib.input
          .SequenceFileInputFormat[MapWritable, Text]],
        classOf[MapWritable], classOf[Text])
    }
    assert(ex2.getMessage.contains("not coercible"))
  }

  test("HadoopTap.writables: derived-schema SequenceFile round-trip") {
    import org.apache.hadoop.io.{BytesWritable, LongWritable}
    val dir = java.nio.file.Files.createTempDirectory("writable_tap").toString
    val tap = graft.sources.HadoopTap.writables(
      s"$dir/seq",
      classOf[org.apache.hadoop.mapreduce.lib.input
        .SequenceFileInputFormat[LongWritable, BytesWritable]],
      classOf[LongWritable], classOf[BytesWritable],
      keyName = "id", valueName = "payload",
      outputFormat = Some(classOf[org.apache.hadoop.mapreduce.lib.output
        .SequenceFileOutputFormat[LongWritable, BytesWritable]]))
    val df = Seq((1L, Array[Byte](10, 20)), (2L, Array[Byte](30)))
      .toDF("id", "payload")
    tap.write(df, SinkMode.Replace)
    val back = tap.read(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(back == Map(1L -> Seq[Byte](10, 20), 2L -> Seq[Byte](30)))
    // schema came from the Writable classes
    assert(tap.read(spark).schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("payload", "binary")))
  }

  test("expression sort keys emulate custom comparators") {
    // sort by string length then value — a Cascading custom comparator
    // becomes a derived sort-key expression
    val df = Seq((1, "ccc"), (1, "a"), (1, "bb")).toDF("k", "v")
    val b = new CBuffer {
      val resultFields: CFields = CFields.typed("order" -> StringType)
      def operate(key: Seq[Any], rs: Iterator[org.apache.spark.sql.Row]) =
        Iterator.single(Seq(rs.map(_.getString(1)).mkString(",")))
    }
    val p = Pipe.source(DataFrameTap(df))
      .groupBySorted(Seq("k"), Seq("length(v)" -> true, "v" -> true))
      .buffer(b)
    assert(Flow.toDF(p).collect().head.getString(1) == "a,bb,ccc")
  }

  // ParquetTap reads its schema from one footer on the driver; Spark's own
  // inference (s.read.parquet) is the reference it must match
  private def sameAsSpark(tapDf: org.apache.spark.sql.DataFrame,
                          sparkDf: org.apache.spark.sql.DataFrame): Unit = {
    assert(tapDf.schema == sparkDf.schema)
    assert(tapDf.toJSON.collect().sorted.toSeq ==
      sparkDf.toJSON.collect().sorted.toSeq)
  }

  test("parquet tap schema: every sf0.001 table matches Spark's inference " +
       "and the read starts no job") {
    val tables = new java.io.File(sf()).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(tables.length >= 7)
    tables.foreach { p =>
      val (df, jobs) = withJobCount(ParquetTap(p).read(spark))
      assert(jobs == 0, p)
      sameAsSpark(df, spark.read.parquet(p))
    }
  }

  test("parquet tap schema: multi-part directory written by the tap") {
    val out = s"${tmp()}/parts"
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i % 3 == 0))
      .toDF("id", "v", "flag")
    ParquetTap(out, parts = Some(3)).write(df, SinkMode.Replace)
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) == 3)
    val (back, jobs) = withJobCount(ParquetTap(out).read(spark))
    assert(jobs == 0)
    sameAsSpark(back, spark.read.parquet(out))
    assert(back.count() == 200)
  }

  test("parquet tap schema: a path rewritten by SinkMode.Replace reads " +
       "with the new schema") {
    val out = s"${tmp()}/replaced"
    val tap = ParquetTap(out)
    tap.write(Seq((1, "a")).toDF("n", "c"), SinkMode.Replace)
    assert(tap.read(spark).columns.toSeq == Seq("n", "c"))
    tap.write(Seq((2.5, 7L, true)).toDF("x", "y", "z"), SinkMode.Replace)
    val back = tap.read(spark)
    assert(back.columns.toSeq == Seq("x", "y", "z"))
    sameAsSpark(back, spark.read.parquet(out))
  }

  test("parquet tap schema: mergeSchema (option or session conf) merges " +
       "every part's schema") {
    val out = s"${tmp()}/merged"
    ParquetTap(out).write(Seq((1L, "a")).toDF("id", "a"), SinkMode.Replace)
    ParquetTap(out).write(Seq((2L, 3.0)).toDF("id", "b"), SinkMode.Update)
    val opt = Map("mergeSchema" -> "true")
    val back = ParquetTap(out).read(spark, opt)
    assert(back.columns.toSet == Set("id", "a", "b"))
    sameAsSpark(back, spark.read.options(opt).parquet(out))
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      sameAsSpark(ParquetTap(out).read(spark), spark.read.parquet(out))
      assert(ParquetTap(out).read(spark).columns.toSet == Set("id", "a", "b"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("parquet tap schema: a missing path raises Spark's exception") {
    val missing = s"${tmp()}/absent"
    val tapErr = intercept[Throwable](ParquetTap(missing).read(spark))
    val sparkErr = intercept[Throwable](spark.read.parquet(missing))
    assert(tapErr.getClass == sparkErr.getClass)
    assert(tapErr.getMessage == sparkErr.getMessage)
  }

  test("parquet tap schema: streaming-sink output reads only committed " +
       "rows") {
    val base = tmp()
    val (in, out) = (s"$base/in", s"$base/out")
    val df = (1 to 20).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    df.write.parquet(in)
    spark.readStream.schema(df.schema).parquet(in)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // a part file the sink never committed (a failed batch's leftover):
    // the _spark_metadata log excludes it
    Seq((99L, "stray")).toDF("id", "t").coalesce(1).write.parquet(s"$base/stray")
    val strayPart = new java.io.File(s"$base/stray").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(strayPart.toPath,
      new java.io.File(out, "part-99999-uncommitted.parquet").toPath)
    val back = ParquetTap(out).read(spark)
    sameAsSpark(back, spark.read.parquet(out))
    assert(back.count() == 20)
    assert(back.filter($"id" === 99L).isEmpty)
  }
}

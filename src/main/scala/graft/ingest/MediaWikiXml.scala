package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.sha1Base36

/** MediaWiki pages-articles dump ingest — the reference's own surface
  * (SURVEY.md §2.A1–A10), rebuilt on Spark 4's native XML source.
  *
  * The reference streams the dump with a pull parser and batch-INSERTs
  * rows (SURVEY.md §3.1). Here the whole pipeline is declarative: the
  * XML source splits the file into `<page>` records in parallel, the
  * flatten/decode steps are Catalyst expressions, and the sink is any
  * DataFrame writer (graft.ingest.Sinks).
  *
  * 100 TB notes:
  *  - the schema is DECLARED, never inferred — inference would scan the
  *    full dump once just to guess types;
  *  - `.bz2` dumps are non-splittable: one task per file. For real
  *    dumps, pre-split per-file (Wikimedia multistream chunks) or
  *    recompress to a splittable codec before ingest;
  *  - downstream partitioning: `partitionBy(ns)` + bucket by page_id
  *    (Sinks.writeParquetPartitioned) so page-grain joins co-locate.
  */
object MediaWikiXml {

  /** `<contributor>` is a tagged union: (username, id) XOR ip. */
  val contributorSchema: StructType = StructType(Seq(
    StructField("username", StringType),
    StructField("id", LongType),
    StructField("ip", StringType)))

  /** `<text bytes=… xml:space=preserve>`; `deleted="deleted"` ⇒ no body. */
  val textSchema: StructType = StructType(Seq(
    StructField("_VALUE", StringType),
    StructField("_bytes", LongType),
    StructField("_deleted", StringType)))

  val revisionSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("parentid", LongType),
    StructField("timestamp", TimestampType), // ISO-8601 UTC in dumps
    StructField("contributor", contributorSchema),
    StructField("minor", StringType), // empty element: present ⇒ "", absent ⇒ null
    StructField("comment", StringType),
    StructField("model", StringType),
    StructField("format", StringType),
    StructField("text", textSchema),
    StructField("sha1", StringType)))

  val pageSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("ns", LongType),
    StructField("id", LongType),
    StructField("redirect", StructType(Seq(StructField("_title", StringType)))),
    StructField("restrictions", StringType),
    StructField("revision", ArrayType(revisionSchema))))

  /** A1: page-grain scan of a dump file (.xml or .xml.bz2 — the codec
    * is picked from the extension by the Hadoop line reader). */
  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "page")
      .schema(pageSchema)
      .load(path)

  /** The declared `<namespace>` element schema — shared verbatim
    * between the header reader below and q214's graded from_xml path
    * (the same schema-sharing pin q206 uses for [[pageSchema]]). */
  val namespaceSchema: StructType = StructType(Seq(
    StructField("_VALUE", StringType),
    StructField("_case", StringType),
    StructField("_key", LongType)))

  /** Normalize a parsed `<namespace>` struct column set to the lookup
    * columns — one place, so the header reader and q214 cannot drift. */
  def namespaceCols(df: DataFrame): DataFrame =
    df.select(col("_key").cast("int").as("ns_key"),
      coalesce(col("_VALUE"), lit("")).as("ns_name"),
      col("_case").as("ns_case"))

  /** A2: the `<siteinfo>` namespace map as a lookup table (the one
    * [[classify]] looks revisions up in). key=0 has an empty name.
    * Only the header is read, on the driver: bytes up to `</siteinfo>`
    * (or the first `<page`, in a dump without one), one at a time so
    * nothing past it is decoded; in a multistream dump that is bz2
    * stream 0, and no page stream is touched. The codec comes from the
    * file extension, through the codec lookup Spark's file readers use
    * (`.bz2`, `.gz` or none). The frame is driver-local: building or
    * collecting it submits no Spark job. */
  def readNamespaces(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val in = org.apache.spark.sql.execution.datasources.CodecStreams.createInputStream(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(path))
    // one char per byte (ISO-8859-1), re-decoded as UTF-8 below: the
    // markers are ASCII, namespace names need not be
    val sb = new java.lang.StringBuilder
    def endsWith(m: String) = sb.length >= m.length && sb.indexOf(m, sb.length - m.length) >= 0
    var b = 0
    try while (!endsWith("</siteinfo>") && !endsWith("<page") && { b = in.read(); b >= 0 })
      sb.append(b.toChar)
    finally in.close()
    val header = new String(sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
      java.nio.charset.StandardCharsets.UTF_8)
    // namespace elements are self-closing or text-bearing
    val elems = "<namespace\\b[^>]*(?:/>|>[^<]*</namespace>)".r.findAllIn(header).toSeq
    namespaceCols(spark.createDataset(elems).toDF("xml")
      .select(from_xml(col("xml"), namespaceSchema).as("n")).select(col("n.*")))
  }

  /** A3–A8: normalize pages to revision grain with all union/presence
    * decodes applied — the golden flattened schema of FIXTURES.md §2.
    *
    * `posexplode_outer` + a filter on the generated position gives
    * exactly `explode`'s rows (a page without revisions yields none, a
    * null element still yields its row), but unlike `explode` it lets
    * the optimizer infer no `size(revision) > 0` filter: pushed under a
    * `from_xml` projection, that filter would parse every page three
    * times. */
  def flattenRevisions(pages: DataFrame): DataFrame =
    pages.select(
      col("id").as("page_id"),
      col("ns").cast("int").as("ns"),
      col("title"),
      col("redirect").isNotNull.as("is_redirect"),
      col("redirect._title").as("redirect_title"),
      col("restrictions"),
      posexplode_outer(col("revision")).as(Seq("rev_pos", "rev")))
      .filter(col("rev_pos").isNotNull)
      .select(
        col("page_id"), col("ns"), col("title"), col("is_redirect"),
        col("redirect_title"), col("restrictions"),
        col("rev.id").as("rev_id"),
        col("rev.parentid").as("parent_id"),
        col("rev.timestamp").as("ts"),
        col("rev.contributor.username").as("contributor_name"),
        col("rev.contributor.id").as("contributor_id"),
        col("rev.contributor.ip").as("contributor_ip"),
        col("rev.contributor.ip").isNotNull.as("is_anon"),
        col("rev.minor").isNotNull.as("is_minor"),
        col("rev.comment").as("comment"),
        col("rev.model").as("model"),
        col("rev.format").as("format"),
        when(col("rev.text._deleted") === "deleted", lit(null: String))
          .otherwise(col("rev.text._VALUE")).as("text"),
        col("rev.text._bytes").as("text_bytes"),
        col("rev.sha1").as("sha1"))

  /** Typed row of the flattened revision stream — the Dataset[T] API
    * boundary (SURVEY.md §1.2): compile-time field checks for callers,
    * identical Catalyst plan underneath. */
  final case class FlatRevision(
      page_id: Long, ns: Int, title: String, is_redirect: Boolean,
      redirect_title: Option[String], restrictions: Option[String],
      rev_id: Long, parent_id: Option[Long], ts: java.sql.Timestamp,
      contributor_name: Option[String], contributor_id: Option[Long],
      contributor_ip: Option[String], is_anon: Boolean, is_minor: Boolean,
      comment: Option[String], model: String, format: String,
      text: Option[String], text_bytes: Option[Long], sha1: String)

  /** Typed view of [[flattenRevisions]]. */
  def typedRevisions(pages: DataFrame): org.apache.spark.sql.Dataset[FlatRevision] = {
    val df = flattenRevisions(pages)
    import df.sparkSession.implicits._
    df.as[FlatRevision]
  }

  /** A9: namespace classification; an article is ns 0 and not a
    * redirect. The namespace table (a `<siteinfo>` has a few dozen
    * entries) is collected to the driver and looked up from a literal
    * map, with a LEFT join's rows: every revision once, its namespace's
    * other columns appended, NULL where `ns` has no entry. Collecting
    * the header frame of [[readNamespaces]] runs no Spark
    * job, and the lookup adds no broadcast stage to the consuming job.
    * A null `ns_key` matches nothing, as in the join; a duplicated
    * one fails here, where the join would duplicate revisions. */
  def classify(flat: DataFrame, namespaces: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShims.column
    import org.apache.spark.sql.catalyst.expressions.Literal
    val valueFields = namespaces.schema.fields.filter(_.name != "ns_key")
    val entries = namespaces
      .select(col("ns_key") +: valueFields.map(f => col(f.name)).toSeq: _*)
      .collect().filterNot(_.isNullAt(0))
      .map(r => r.get(0) -> org.apache.spark.sql.Row.fromSeq(r.toSeq.tail))
    val dups = entries.groupBy(_._1).collect { case (k, es) if es.length > 1 => k }
    require(dups.isEmpty, s"duplicate namespace keys ${dups.mkString(", ")}: " +
      "a lookup must match a revision at most once")
    val valueType = StructType(valueFields)
    val lookup = column(Literal.create(entries.toMap,
      MapType(namespaces.schema("ns_key").dataType, valueType, valueContainsNull = false)))
    val ns = element_at(lookup, col("ns"))
    flat.select(col("*") +: valueFields.map(f => ns.getField(f.name).as(f.name)).toSeq: _*)
      .withColumn("is_article", col("ns") === 0 && !col("is_redirect"))
  }

  /** A10: recompute MediaWiki's base-36 sha1 (31 chars, zero-padded)
    * and compare against the dump's `<sha1>`. */
  def verifySha1(flat: DataFrame): DataFrame =
    flat.withColumn("sha1_computed",
      when(col("text").isNotNull, lpad(sha1Base36(col("text")), 31, "0")))
      .withColumn("sha1_ok", col("sha1_computed") === col("sha1"))

  /** A12: page-grain dedup — keep the latest revision per page. */
  def latestRevisionPerPage(flat: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id"))
      .orderBy(col("ts").desc, col("rev_id").desc)
    flat.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Wikitext internal-link extraction — `[[Target]]`,
    * `[[Target|label]]`, `[[Target#Anchor|label]]` (the public
    * wikilink syntax) from a flattened-revision frame, normalized the
    * way MediaWiki canonicalizes titles: label and anchor stripped,
    * underscores to spaces, whitespace trimmed, first letter
    * uppercased (the `<siteinfo case="first-letter">` rule). External
    * links, empty targets, and nested-bracket constructs (images with
    * caption links) are excluded by the inner `[^\[\]|#]` match on
    * the target segment.
    *
    * Entirely codegen'd string work (`regexp_extract_all` + explode)
    * on the scan side — the link table never carries the revision
    * text, only (page_id, from_title, to_title). */
  def extractLinks(flat: DataFrame): DataFrame = {
    val target = trim(regexp_replace(
      regexp_extract(col("raw"), "^([^|#]*)", 1), "_", " "))
    flat
      .filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(expr(
          """regexp_extract_all(text, '\\[\\[([^\\[\\]]+)\\]\\]', 1)"""))
          .as("raw"))
      .withColumn("to_title",
        concat(upper(substring(target, 1, 1)),
          substring(target, 2, Int.MaxValue)))
      .filter(length(col("to_title")) > 0)
      .select(col("page_id"), col("from_title"), col("to_title"))
  }

  /** `[[Category:…]]` membership per page — MediaWiki's categorylinks
    * table from the same flattened frame as [[extractLinks]]: one
    * codegen'd regex pass ([[graft.ops.WikitextOps.categoriesOf]], the
    * expression q171 grades cross-engine), sortkeys stripped,
    * first-letter-normalized. */
  def categoryLinks(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(graft.ops.WikitextOps.categoriesOf("text")).as("category"))

  /** `{{template}}` transclusions per page — the templatelinks table:
    * every transclusion opener's normalized name
    * ([[graft.ops.WikitextOps.templatesOf]], graded as q172), parser
    * functions excluded. */
  def templateLinks(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(graft.ops.WikitextOps.templatesOf("text")).as("template"))

  /** `http(s)://…` URLs per page — MediaWiki's externallinks table:
    * raw URL plus its lowercased host
    * ([[graft.ops.WikitextOps.urlsOf]]/[[graft.ops.WikitextOps.hostOf]],
    * the expressions q173 grades cross-engine). */
  def externalLinks(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(graft.ops.WikitextOps.urlsOf("text")).as("url"))
      .withColumn("host", graft.ops.WikitextOps.hostOf(col("url")))

  /** `[[xx:Title]]` interwiki links per page — the langlinks table:
    * lowercase 2–3 letter code (+optional variant suffix) and the
    * first-letter-normalized target title
    * ([[graft.ops.WikitextOps.langLinksOf]] family, graded as q174). */
  def langLinks(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(graft.ops.WikitextOps.langLinksOf("text")).as("m"))
      .select(col("page_id"), col("from_title"),
        graft.ops.WikitextOps.langCodeOf(col("m")).as("lang_code"),
        graft.ops.WikitextOps.langTitleOf(col("m")).as("ll_title"))

  /** `#REDIRECT [[Target]]` at content start — the redirect table
    * from wikitext ([[graft.ops.WikitextOps.redirectTargetOf]], graded
    * as q178). Cross-checks the dump's `<redirect/>` attribute: a page
    * whose text opens with the magic word should carry the attribute,
    * and the wikitext target is the resolvable one. */
  def redirectTargets(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        graft.ops.WikitextOps.redirectTargetOf(col("text")).as("rd_title"))
      .filter(length(col("rd_title")) > 0)

  /** `== Heading ==` section outline per page — (level, heading) in
    * document order ([[graft.ops.WikitextOps.headingsOf]] family,
    * graded as q179). */
  def sectionOutline(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        explode(graft.ops.WikitextOps.headingsOf("text")).as("m"))
      .select(col("page_id"), col("from_title"),
        graft.ops.WikitextOps.headingLevelOf(col("m")).as("level"),
        graft.ops.WikitextOps.headingTextOf(col("m")).as("heading"))

  /** `{{Infobox <type>|k=v|…}}` parameters per page — the structured
    * key/value surface ([[graft.ops.WikitextOps.infoboxBodyOf]],
    * graded as q180); flat single-level form, the type segment
    * carries no `=` so the contains-filter drops it. */
  def infoboxParams(flat: DataFrame): DataFrame =
    flat.filter(col("text").isNotNull)
      .select(col("page_id"), col("title").as("from_title"),
        graft.ops.WikitextOps.infoboxBodyOf(col("text")).as("body"))
      .filter(length(col("body")) > 0)
      .select(col("page_id"), col("from_title"),
        substring_index(col("body"), "|", 1).as("infobox"),
        explode(split(col("body"), "\\|")).as("p"))
      .filter(col("p").contains("="))
      .select(col("page_id"), col("from_title"), col("infobox"),
        trim(substring_index(col("p"), "=", 1)).as("param"),
        // rest-after-FIRST-'=' — real dump values routinely contain
        // '=' (URLs, nested params); same semantics as q180's op
        trim(expr("substring(p, instr(p, '=') + 1)")).as("value"))

  /** Per-revision history deltas — the wiki-research edit-analytics
    * frame: each revision's byte delta vs its chronological
    * predecessor ON THE SAME PAGE (first revision deltas against 0)
    * and editor attribution. One
    * page-keyed window pass — the q184 SCD shape on the revision
    * stream; no cross-page traffic at any dump size. */
  def revisionDeltas(flat: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id")).orderBy(col("ts"), col("rev_id"))
    flat
      .withColumn("prev_bytes",
        coalesce(lag(col("text_bytes"), 1).over(w), lit(0L)))
      .withColumn("delta_bytes", col("text_bytes") - col("prev_bytes"))
      .select(col("page_id"), col("title"), col("rev_id"), col("ts"),
        coalesce(col("contributor_name"), col("contributor_ip"))
          .as("editor"),
        col("is_anon"), col("is_minor"),
        col("text_bytes"), col("delta_bytes"))
  }

  /** Revert detection via the dump's sha1 column — the standard
    * wiki-research identity: a revision whose sha1 EQUALS an earlier
    * revision's on the same page restored that exact content, i.e.
    * everything between the two is reverted. Emitted per revert:
    * the reverting revision, the restored revision (the LATEST
    * earlier sha1 match), and how many intervening revisions it
    * undid. Window machinery only — per page, each sha1's previous
    * occurrence comes from a lag over the (page, sha1) partition and
    * the intervening count from revision sequence numbers. */
  def revertChains(flat: DataFrame): DataFrame = {
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id")).orderBy(col("ts"), col("rev_id"))
    val shaW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id"), col("sha1")).orderBy(col("ts"), col("rev_id"))
    flat
      .withColumn("seq", row_number().over(seqW))
      .withColumn("restored_rev", lag(col("rev_id"), 1).over(shaW))
      .withColumn("restored_seq", lag(col("seq"), 1).over(shaW))
      .filter(col("restored_rev").isNotNull)
      .select(col("page_id"), col("title"),
        col("rev_id").as("reverting_rev"),
        coalesce(col("contributor_name"), col("contributor_ip"))
          .as("reverting_editor"),
        col("restored_rev"),
        (col("seq") - col("restored_seq") - 1).as("n_reverted"))
      .filter(col("n_reverted") >= 1)
  }

  /** WORD-level revision diff (VERDICT_r13 #5, extends B119's byte
    * deltas): per revision, the MULTISET token difference vs its
    * chronological parent on the same page — n_added counts token
    * occurrences present now and absent then, n_removed the reverse
    * (so an edit that swaps one word reads 1/1 where byte deltas read
    * ~0, and a paste-in of a repeated word counts every copy). The
    * first revision of a page diffs against the empty text.
    *
    * Shape: revisions explode to (page, seq, token) counts; the diff
    * joins each (page, token) at seq with itself at seq−1 — ALL
    * traffic keys on (page_id, token), never cross-page, and text
    * itself never shuffles past the token explode. The q191 graded
    * query runs this exact relational core on a synthesized
    * documents-proxy history under the DuckDB oracle. */
  def revisionWordDiff(flat: DataFrame): DataFrame = {
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id")).orderBy(col("ts"), col("rev_id"))
    val revs = flat.filter(col("text").isNotNull)
      .withColumn("seq", row_number().over(seqW))
      .select(col("page_id"), col("title"), col("rev_id"), col("seq"),
        coalesce(col("contributor_name"), col("contributor_ip"))
          .as("editor"),
        col("text"))
    val tok = revs
      .select(col("page_id"), col("seq"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("page_id"), col("seq"), col("w"))
      .agg(count(lit(1)).as("c"))
    val prev = tok.select(col("page_id"), (col("seq") + 1).as("seq"),
      col("w"), col("c").as("pc"))
    // full outer cannot broadcast; shuffled hash avoids sort-merge's
    // corpus-grain token sort (both sides are (page, token) fact grain)
    val diff = tok.join(prev.hint("shuffle_hash"), Seq("page_id", "seq", "w"),
        "full_outer")
      .select(col("page_id"), col("seq"),
        greatest(coalesce(col("c"), lit(0L)) - coalesce(col("pc"), lit(0L)),
          lit(0L)).as("a"),
        greatest(coalesce(col("pc"), lit(0L)) - coalesce(col("c"), lit(0L)),
          lit(0L)).as("r"))
      .groupBy(col("page_id"), col("seq"))
      .agg(sum(col("a")).as("n_added"), sum(col("r")).as("n_removed"))
    revs.join(diff, Seq("page_id", "seq"), "left")
      .select(col("page_id"), col("title"), col("rev_id"), col("seq"),
        col("editor"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** CONTENT PERSISTENCE / who-wrote-what (VERDICT_r13 #5): each
    * DISTINCT token on a page is attributed to the EARLIEST revision
    * (and so editor) that introduced it; a token survives if it still
    * appears in the page's latest revision. Output per (page, editor):
    * tokens introduced and tokens surviving — the standard
    * wiki-research authorship-survival frame at distinct-token grain
    * (occurrence-grain persistence needs full diff chains; the
    * distinct-token tier is the scalable first cut and what the spec
    * fixture pins). Page-keyed throughout: introductions key on
    * (page, token), survival joins on the same key, editors ride the
    * introduction row. */
  def contentPersistence(flat: DataFrame): DataFrame = {
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("page_id")).orderBy(col("ts"), col("rev_id"))
    val revs = flat.filter(col("text").isNotNull)
      .withColumn("seq", row_number().over(seqW))
      .select(col("page_id"), col("seq"),
        coalesce(col("contributor_name"), col("contributor_ip"))
          .as("editor"),
        col("text"))
    val tok = revs
      .select(col("page_id"), col("seq"), col("editor"),
        explode(split(col("text"), " ")).as("w"))
    // earliest introduction of each distinct (page, token): min seq,
    // editor recovered via the (seq, editor) struct-min trick so one
    // aggregate carries both
    val intro = tok
      .groupBy(col("page_id"), col("w"))
      .agg(min(struct(col("seq"), col("editor"))).as("first"))
      .select(col("page_id"), col("w"), col("first.editor").as("editor"))
    val lastSeq = revs.groupBy(col("page_id"))
      .agg(max(col("seq")).as("last_seq"))
    val lastToks = revs.join(lastSeq, Seq("page_id"))
      .filter(col("seq") === col("last_seq"))
      .select(col("page_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .withColumn("survives", lit(1L))
    intro.join(lastToks, Seq("page_id", "w"), "left")
      .groupBy(col("page_id"), col("editor"))
      .agg(count(lit(1)).as("tokens_introduced"),
        sum(coalesce(col("survives"), lit(0L))).as("tokens_surviving"))
  }

  /** The distinct link graph with per-page out-degree — the edge list
    * a PageRank/centrality pass (q97's machinery) consumes; built on
    * the LATEST revision per page so the graph reflects current
    * state, not history. */
  def linkGraph(flat: DataFrame): DataFrame =
    extractLinks(latestRevisionPerPage(flat))
      .select(col("from_title"), col("to_title")).distinct()
      .withColumn("out_degree",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("from_title"))))

  /** PageRank over the wiki link graph — the q97 fixed-iteration
    * declarative pattern applied to [[linkGraph]]'s edges: ranks live
    * on TITLES (every page plus every link target, so red links rank
    * too, exactly like real wiki graphs), d = 0.85, `iters` unrolled
    * rounds, dangling nodes' mass redistributed uniformly each round
    * (the standard correction — without it total rank leaks). At
    * fixture scale the rank table broadcasts; at wiki scale the same
    * plan swaps to the bucketed alternative documented on q97. */
  def linkRank(flat: DataFrame, iters: Int = 3): DataFrame = {
    val edges = linkGraph(flat)
    val nodes = edges.select(col("from_title").as("title"))
      .union(edges.select(col("to_title").as("title")))
      .union(latestRevisionPerPage(flat).select(col("title"))).distinct()
    val n = nodes.count()
    var rank = nodes.withColumn("rank", lit(1.0))
    var i = 0
    while (i < iters) {
      val contrib = edges
        .join(broadcast(rank), col("from_title") === col("title"))
        .select(col("to_title").as("title"),
          (col("rank") / col("out_degree")).as("c"))
        .groupBy(col("title")).agg(sum(col("c")).as("in_mass"))
      // dangling mass as a 1-row broadcast under the update — one
      // declarative plan per round, NO driver-side action (the q76
      // lesson: per-round actions serialize the iteration)
      val dangling = rank.join(edges.select(col("from_title")).distinct(),
          col("title") === col("from_title"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      rank = nodes.join(contrib, Seq("title"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("title"),
          (lit(0.15) + lit(0.85) *
            (coalesce(col("in_mass"), lit(0.0)) + col("dm") / n))
            .as("rank"))
      i += 1
    }
    rank.orderBy(col("rank").desc, col("title"))
  }
}

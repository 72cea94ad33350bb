package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.MediaWikiXml

/** MediaWiki XML ingest — every branch of FIXTURES.md §2. */
class IngestSpec extends AnyFunSuite with LocalSparkSuite {

  private val dump = "src/test/resources/minidump.xml"
  private lazy val pages = MediaWikiXml.readPages(spark, dump)
  private lazy val flat = MediaWikiXml.flattenRevisions(pages).cache()
  private lazy val ns = MediaWikiXml.readNamespaces(spark, dump)

  test("A1 page scan: 8 pages with declared schema") {
    assert(pages.count() === 8)
    assert(pages.schema === MediaWikiXml.pageSchema)
  }

  test("A1 .bz2 dump reads through the codec transparently") {
    val bz = MediaWikiXml.readPages(spark, "src/test/resources/minidump.xml.bz2")
    assert(bz.count() === 8)
    assert(MediaWikiXml.flattenRevisions(bz).count() === 9)
  }

  test("A1 malformed page degrades permissively, good pages unaffected") {
    // a real 20 GB dump has occasional damage; PERMISSIVE (the
    // default) nulls the bad fields instead of killing the import
    val dir = java.nio.file.Files.createTempDirectory("maldump")
    val xml =
      """<mediawiki><page><title>Good</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="2">hi</text><sha1>x</sha1></revision></page>
        |<page><title>Bad</title><ns>NOT_A_NUMBER</ns><id>2</id>
        |<revision><id>11</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><ip>1.2.3.4</ip></contributor>
        |<text bytes="2">yo</text><sha1>y</sha1></revision></page>
        |</mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val pages = MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString)
    assert(pages.count() === 2) // nothing dropped, nothing thrown
    val bad = pages.filter(col("title") === "Bad").head()
    assert(bad.isNullAt(bad.fieldIndex("ns"))) // damaged field nulled
    val good = pages.filter(col("title") === "Good").head()
    assert(good.getLong(good.fieldIndex("ns")) === 0L) // sibling intact
  }

  test("A1 multi-file dump directory reads in parallel (multistream chunks)") {
    val dir = java.nio.file.Files.createTempDirectory("chunks")
    java.nio.file.Files.copy(java.nio.file.Paths.get("src/test/resources/minidump.xml"),
      dir.resolve("chunk-0.xml"))
    java.nio.file.Files.copy(java.nio.file.Paths.get("src/test/resources/minidump.xml"),
      dir.resolve("chunk-1.xml"))
    val df = MediaWikiXml.readPages(spark, dir.toString)
    assert(df.count() === 16)
    assert(df.rdd.getNumPartitions >= 2) // one task per chunk, minimum
  }

  test("A2 namespace table: 5 entries, key 0 has empty name") {
    val m = ns.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m === Map(-2 -> "Media", -1 -> "Special", 0 -> "", 1 -> "Talk", 2 -> "User"))
  }

  test("A4 revision normalize: 9 revisions from 8 pages") {
    assert(flat.count() === 9)
  }

  test("A6 redirect presence decode") {
    val r = flat.filter(col("page_id") === 2).head()
    assert(r.getAs[Boolean]("is_redirect"))
    assert(r.getAs[String]("redirect_title") === "Alpha Article")
    assert(flat.filter(col("is_redirect")).count() === 1)
  }

  test("A5 contributor union: anonymous edit") {
    val r = flat.filter(col("page_id") === 3).head()
    assert(r.getAs[Boolean]("is_anon"))
    assert(r.getAs[String]("contributor_ip") === "203.0.113.5")
    assert(r.getAs[String]("contributor_name") == null)
    assert(flat.filter(col("is_anon")).count() === 1)
  }

  test("A6 minor flag presence decode") {
    assert(flat.filter(col("is_minor")).select("page_id").head().getLong(0) === 4)
    assert(flat.filter(col("is_minor")).count() === 1)
  }

  test("A8 deleted text: null body, metadata kept") {
    val r = flat.filter(col("page_id") === 5).head()
    assert(r.getAs[String]("text") == null)
    assert(r.getAs[String]("sha1") != null)
  }

  test("A4 multi-revision page keeps parentid chain") {
    val revs = flat.filter(col("page_id") === 6).orderBy("rev_id").collect()
    assert(revs.length === 2)
    assert(revs(0).getAs[Any]("parent_id") == null)
    assert(revs(1).getAs[Long]("parent_id") === 106L)
  }

  test("A7 timestamps parse as UTC instants") {
    val t = flat.filter(col("rev_id") === 101)
      .select(col("ts").cast("long")).head().getLong(0)
    assert(t === 1704103200L) // 2024-01-01T10:00:00Z
  }

  test("unicode + entity escaping round-trips") {
    val r = flat.filter(col("page_id") === 8).head()
    assert(r.getAs[String]("title") === "Ætherwissenschaft 科学")
    assert(r.getAs[String]("contributor_name") === "Ünïcodé-User")
    assert(r.getAs[String]("comment") === "entities & escapes <test>")
    val body = r.getAs[String]("text")
    assert(body.contains("<angle>") && body.contains("&") && body.contains("\n"))
    assert(r.getAs[Long]("text_bytes") === 68L)
  }

  test("A9 classification: broadcast ns join + article rule") {
    val c = MediaWikiXml.classify(flat, ns)
    assert(c.filter(col("page_id") === 7).head().getAs[String]("ns_name") === "Talk")
    val articles = c.filter(col("is_article")).select("page_id")
      .collect().map(_.getLong(0)).toSet
    assert(articles === Set(1L, 3L, 4L, 5L, 6L, 8L)) // not 2 (redirect), not 7 (ns 1)
  }

  test("A9 classify: a LEFT join's rows and schema; a duplicated key fails") {
    def joined(lookup: org.apache.spark.sql.DataFrame) =
      flat.join(broadcast(lookup), col("ns") === col("ns_key"), "left")
        .withColumn("is_article", col("ns") === 0 && !col("is_redirect"))
        .drop("ns_key")
    val got = MediaWikiXml.classify(flat, ns)
    val want = joined(ns)
    assert(got.schema === want.schema)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    // ns 1 (page 7) has no entry here, and the null key matches nothing
    import spark.implicits._
    val partial = Seq[(Integer, String, String)]((0, "", "first-letter"), (null, "None", "x"))
      .toDF("ns_key", "ns_name", "ns_case")
    val talk = MediaWikiXml.classify(flat, partial).filter(col("page_id") === 7)
      .select("ns_name", "ns_case").collect()
    assert(talk.nonEmpty && talk.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    val e = intercept[IllegalArgumentException](
      MediaWikiXml.classify(flat, partial.unionByName(partial.limit(1))))
    assert(e.getMessage.contains("duplicate namespace keys 0"))
  }

  test("A10 sha1 verify: base-36, 31 chars, deterministic vs JDK digest") {
    val v = MediaWikiXml.verifySha1(flat.filter(col("page_id") === 1))
    val got = v.head().getAs[String]("sha1_computed")
    val text = "Alpha body text with [[Beta Link]]."
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(text.getBytes("UTF-8"))
    val want = new java.math.BigInteger(1, d).toString(36)
    assert(got.length === 31)
    assert(got.dropWhile(_ == '0') === want.dropWhile(_ == '0'))
  }

  test("typed Dataset boundary: Dataset[FlatRevision] round-trips") {
    val ds = MediaWikiXml.typedRevisions(pages)
    val zeta = ds.filter(_.page_id == 6L).collect().sortBy(_.rev_id)
    assert(zeta.map(_.rev_id).toSeq === Seq(106L, 107L))
    assert(zeta(1).parent_id === Some(106L))
    assert(ds.filter(_.is_anon).map(_.contributor_ip)(
      org.apache.spark.sql.Encoders.product[Option[String]]
    ).collect().flatten.toSeq === Seq("203.0.113.5"))
  }

  test("A4 flattenRevisions parses each page once, with explode's rows") {
    import spark.implicits._
    val xmls = Seq(
      """<page><title>Two</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><text bytes="1">a</text></revision>
        |<revision><id>11</id><text bytes="1">b</text></revision></page>""".stripMargin,
      "<page><title>None</title><ns>0</ns><id>2</id></page>",
      "<page><title>Empty</title><ns>0</ns><id>3</id><revision/></page>")
    // the multistream reader's shape: from_xml over an RDD-backed column,
    // which the optimizer cannot fold into a local relation
    val parsed = spark.createDataset(spark.sparkContext.parallelize(xmls, 2)).toDF("xml")
      .select(from_xml(col("xml"), MediaWikiXml.pageSchema).as("p")).select(col("p.*"))
    val revs = MediaWikiXml.flattenRevisions(parsed)
    val plan = revs.queryExecution.executedPlan.toString
    assert("from_xml\\(".r.findAllMatchIn(plan).size === 1, plan)
    // explode's rows: none for the page without <revision>, one for the
    // empty <revision/>
    val viaExplode = parsed.select(col("id").as("page_id"), explode(col("revision")).as("rev"))
      .select(col("page_id"), col("rev.id").as("rev_id"), col("rev.text._VALUE").as("text"))
    val key = Seq(col("page_id"), col("rev_id"))
    assert(revs.select("page_id", "rev_id", "text").orderBy(key: _*).collect().toSeq ===
      viaExplode.orderBy(key: _*).collect().toSeq)
    assert(revs.select("page_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 1L, 3L))
  }

  test("A12 latest revision per page") {
    val latest = MediaWikiXml.latestRevisionPerPage(flat)
    assert(latest.count() === 8)
    assert(latest.filter(col("page_id") === 6).head().getAs[Long]("rev_id") === 107L)
  }

  test("wikilink extraction: label/anchor stripped, case and underscores normalized") {
    import spark.implicits._
    val f = Seq(
      (1L, "Page One",
        "see [[Alpha]] and [[beta|the b article]] and [[Gamma#History|x]] " +
        "plus [[File:Pic.png]] and [[multi_word_title]] and [[  spaced  ]] " +
        "not [single] nor [[]] nor http://x [[Alpha]] again"),
      (2L, "Page Two", null.asInstanceOf[String]))
      .toDF("page_id", "title", "text")
    val links = MediaWikiXml.extractLinks(f)
      .select("to_title").collect().map(_.getString(0)).toSeq
    // [[Alpha]] twice -> extraction keeps multiplicity (graph distincts)
    assert(links.count(_ == "Alpha") === 2)
    assert(links.contains("Beta"))        // case rule: first letter up
    assert(links.contains("Gamma"))       // anchor stripped
    assert(links.contains("File:Pic.png"))
    assert(links.contains("Multi word title"))
    assert(links.contains("Spaced"))
    assert(!links.exists(_.isEmpty))
    assert(links.size === 7)
  }

  test("link graph from the fixture: distinct edges with out-degree") {
    val g = MediaWikiXml.linkGraph(flat).collect()
    val edges = g.map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges.contains(("Alpha Article", "Beta Link")))
    assert(edges.contains(("Beta Redirect", "Alpha Article")))
    g.foreach(r => assert(r.getLong(2) >= 1L))
  }

  test("A14+ categorylinks/templatelinks: the wiki structure tables") {
    val dir = java.nio.file.Files.createTempDirectory("catdump")
    val xml =
      """<mediawiki><page><title>Cats</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="9">Body [[Category:Living_people]] [[category:1970 births|Cats]]
        |[[Category: Padded ]] [[Plain link]] {{Infobox_person|name=x}}
        |{{cite web|url={{URL_helper}}}} {{#if:a|b}} {{ lowercase }}</text>
        |<sha1>x</sha1></revision></page></mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val f = MediaWikiXml.flattenRevisions(
      MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString))
    val cats = MediaWikiXml.categoryLinks(f).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cats === Set(
      (1L, "Cats", "Living people"),   // underscore -> space
      (1L, "Cats", "1970 births"),     // lowercase prefix + sortkey stripped
      (1L, "Cats", "Padded")))         // trimmed; [[Plain link]] excluded
    val tpls = MediaWikiXml.templateLinks(f).collect()
      .map(_.getString(2)).sorted.toSeq
    // parser function {{#if}} dropped; nested {{URL_helper}} reported
    assert(tpls === Seq("Cite web", "Infobox person", "Lowercase", "URL helper"))
  }

  test("A14+ externallinks/langlinks: the remaining wiki link tables") {
    val dir = java.nio.file.Files.createTempDirectory("extdump")
    val xml =
      """<mediawiki><page><title>Ext</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="9">See [http://Example.ORG/Path/a label] and bare
        |https://cdn.example.net/x?a=1 plus ftp://no and http://
        |[[fr:Titre_un|affiche]] [[de:Seite zwei]] [[pt-br:Pagina]]
        |[[EN:Drop me]] [[simple:drop]] [[Category:Drop]] [[fr:]]</text>
        |<sha1>x</sha1></revision></page></mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val f = MediaWikiXml.flattenRevisions(
      MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString))
    val ext = MediaWikiXml.externalLinks(f).collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    assert(ext === Set(
      // raw URL kept case-intact, host lowercased; bracket/space end the match
      ("http://Example.ORG/Path/a", "example.org"),
      ("https://cdn.example.net/x?a=1", "cdn.example.net")))
    val ll = MediaWikiXml.langLinks(f).collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    assert(ll === Set(
      ("fr", "Titre un"),      // display text consumed, underscore -> space
      ("de", "Seite zwei"),
      ("pt-br", "Pagina")))    // hyphenated variant code
    // uppercase code, >3-letter code, Category prefix, empty title: all dropped
  }

  test("A14+ redirects/sections/infobox: the wiki structure surfaces") {
    val dir = java.nio.file.Files.createTempDirectory("rdump")
    val xml =
      """<mediawiki><page><title>Old Name</title><ns>0</ns><id>1</id>
        |<redirect title="New Name" />
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="9">  #redirect [[new_name|label]] {{R from move}}</text>
        |<sha1>x</sha1></revision></page>
        |<page><title>Article</title><ns>0</ns><id>2</id>
        |<revision><id>11</id><timestamp>2024-01-02T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="9">{{Infobox person|name=Ada|born = 1815}} intro
        |mentions #REDIRECT [[Not one]] mid-text
        |== Life ==
        |text
        |=== Early years ===
        | == not a heading ==
        |====== Deep ======</text>
        |<sha1>x</sha1></revision></page></mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val f = MediaWikiXml.flattenRevisions(
      MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString))
    // redirect: wikitext target agrees with the dump attribute after
    // normalization; the mid-text decoy on page 2 must not extract
    val rd = MediaWikiXml.redirectTargets(f).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rd === Seq((1L, "Old Name", "New name")))
    val attrTitle = f.filter(col("page_id") === 1)
      .select("redirect_title").head().getString(0)
    assert(attrTitle === "New Name") // raw attribute, pre-normalization
    // sections: level-2, level-3 with trailing blanks, level-6; the
    // leading-space line is not a heading
    val secs = MediaWikiXml.sectionOutline(f).collect()
      .map(r => (r.getInt(2), r.getString(3))).toSet
    assert(secs === Set((2, "Life"), (3, "Early years"), (6, "Deep")))
    // infobox: type + two params, spaced `=` trimmed
    val ib = MediaWikiXml.infoboxParams(f).collect()
      .map(r => (r.getString(2), r.getString(3), r.getString(4))).toSet
    assert(ib === Set(("person", "name", "Ada"), ("person", "born", "1815")))
  }

  test("revision deltas + sha1 revert chains on a history page") {
    val dir = java.nio.file.Files.createTempDirectory("histdump")
    // four revisions: create (7 bytes), grow (13), REVERT to rev 10's
    // content (sha1 'aaa' again), then new content — plus a second
    // page whose single revision can never be a revert
    val xml =
      """<mediawiki><page><title>Hist</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>alice</username><id>5</id></contributor>
        |<text bytes="7">content</text><sha1>aaa</sha1></revision>
        |<revision><id>11</id><timestamp>2024-01-02T00:00:00Z</timestamp>
        |<contributor><username>bob</username><id>6</id></contributor>
        |<text bytes="13">content grown</text><sha1>bbb</sha1></revision>
        |<revision><id>12</id><timestamp>2024-01-03T00:00:00Z</timestamp>
        |<contributor><username>alice</username><id>5</id></contributor>
        |<text bytes="7">content</text><sha1>aaa</sha1></revision>
        |<revision><id>13</id><timestamp>2024-01-04T00:00:00Z</timestamp>
        |<contributor><ip>9.8.7.6</ip></contributor>
        |<text bytes="5">fresh</text><sha1>ccc</sha1></revision></page>
        |<page><title>Quiet</title><ns>0</ns><id>2</id>
        |<revision><id>20</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>7</id></contributor>
        |<text bytes="2">ok</text><sha1>ddd</sha1></revision></page>
        |</mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val f = MediaWikiXml.flattenRevisions(
      MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString))
    val deltas = MediaWikiXml.revisionDeltas(f).collect()
      .map(r => r.getAs[Long]("rev_id") ->
        (r.getAs[Long]("delta_bytes"), r.getAs[String]("editor"))).toMap
    assert(deltas(10L) === ((7L, "alice")))  // first rev deltas vs 0
    assert(deltas(11L) === ((6L, "bob")))    // 13 - 7
    assert(deltas(12L) === ((-6L, "alice"))) // the revert shrinks back
    assert(deltas(13L) === ((-2L, "9.8.7.6"))) // anon attribution = ip
    assert(deltas(20L)._1 === 2L)
    val reverts = MediaWikiXml.revertChains(f).collect()
    assert(reverts.length === 1, "exactly one sha1 restoration")
    val rv = reverts.head
    assert(rv.getAs[Long]("reverting_rev") === 12L)
    assert(rv.getAs[Long]("restored_rev") === 10L)
    assert(rv.getAs[Long]("n_reverted") === 1L) // rev 11 was undone
    assert(rv.getAs[String]("reverting_editor") === "alice")
  }

  test("word-level revision diff + content persistence on a known history") {
    val dir = java.nio.file.Files.createTempDirectory("wdiffdump")
    // multiset-sensitive history: rev2 duplicates a token, rev3 drops
    // one copy of it and doubles another - byte deltas cannot see this
    val xml =
      """<mediawiki><page><title>W</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>alice</username><id>5</id></contributor>
        |<text bytes="3">a b</text><sha1>aaa</sha1></revision>
        |<revision><id>11</id><timestamp>2024-01-02T00:00:00Z</timestamp>
        |<contributor><username>bob</username><id>6</id></contributor>
        |<text bytes="7">a a b c</text><sha1>bbb</sha1></revision>
        |<revision><id>12</id><timestamp>2024-01-03T00:00:00Z</timestamp>
        |<contributor><username>carol</username><id>7</id></contributor>
        |<text bytes="5">a c c</text><sha1>ccc</sha1></revision></page>
        |</mediawiki>""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("d.xml"), xml)
    val f = MediaWikiXml.flattenRevisions(
      MediaWikiXml.readPages(spark, dir.resolve("d.xml").toString))

    val diffs = MediaWikiXml.revisionWordDiff(f).collect()
      .map(r => r.getAs[Long]("rev_id") ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[String]("editor")))).toMap
    assert(diffs(10L) === ((2L, 0L, "alice"))) // vs empty: a, b
    // rev2 {a:2,b:1,c:1} vs rev1 {a:1,b:1}: +a +c
    assert(diffs(11L) === ((2L, 0L, "bob")))
    // rev3 {a:1,c:2} vs rev2 {a:2,b:1,c:1}: +c / -a -b
    assert(diffs(12L) === ((1L, 2L, "carol")))

    val pers = MediaWikiXml.contentPersistence(f).collect()
      .map(r => r.getAs[String]("editor") ->
        ((r.getAs[Long]("tokens_introduced"),
          r.getAs[Long]("tokens_surviving")))).toMap
    // intro: a,b -> alice (rev1); c -> bob (rev2); carol introduced
    // nothing and therefore has no row. Final tokens {a, c}.
    assert(pers === Map(
      "alice" -> ((2L, 1L)), // a survives, b does not
      "bob" -> ((1L, 1L))))  // c survives
  }

  test("link PageRank: mass conserved, link targets outrank isolates") {
    val r = MediaWikiXml.linkRank(flat).collect()
    val total = r.map(_.getDouble(1)).sum
    assert(math.abs(total - r.length) < 1e-6,
      s"rank mass $total != node count ${r.length}")
    val byTitle = r.map(x => x.getString(0) -> x.getDouble(1)).toMap
    // Alpha Article is linked (from Beta Redirect) and links out;
    // a page nobody links to must rank strictly below it
    assert(byTitle("Alpha Article") > byTitle.values.min)
    assert(byTitle("Beta Link") > byTitle.values.min)
    assert(r.forall(_.getDouble(1) > 0))
  }
}

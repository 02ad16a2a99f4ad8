package graft.tools

import graft.sources.XmlCorpus

/** Randomized prefix-dialect fuzz: kernel vs xpath twin over documents
  * whose element AND attribute names carry random (single- and
  * multi-colon, undeclared) prefixes — the namespace-unaware local-part
  * matching surface the directed dialect spec pins edge-by-edge.
  */
object XmlFuzz {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400)
    val seed = args.lift(1).map(_.toLong).getOrElse(421L)
    val spark = Measure.session()
    import spark.implicits._

    val rnd = new scala.util.Random(seed)
    val prefixes = Vector("", "x:", "a:b:", "foo:", "q2:")
    def pe(nm: String) = prefixes(rnd.nextInt(prefixes.size)) + nm
    def pa(nm: String) =
      (if (rnd.nextInt(4) == 0) prefixes(1 + rnd.nextInt(prefixes.size - 1)) else "") + nm
    def elem(name: String, attrs: String, inner: String) = s"<$name$attrs>$inner</$name>"
    def para(): String = {
      val cls = if (rnd.nextBoolean()) s""" ${pa("class")}="bodytext"""" else " class=\"plain\""
      val kids = (1 to 1 + rnd.nextInt(4)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => "t" + rnd.nextInt(100) + " "
          case 1 => elem(pe("location"), "", "LD" + (if (rnd.nextBoolean()) "<b>c</b>tail" else ""))
          case 2 => elem(pe("em"), s""" ${pa("class")}="source"""", "sl<i>k</i>t")
          case 3 => "<!-- c -->after"
          case 4 => elem(pe("span"), "", "deep<b>er</b>")
          case _ => "plain text "
        }
      }.mkString
      elem(pe("p"), cls, kids)
    }
    val rows = (0 until n).map { i =>
      val cat = { val cn = pe("category"); s"""<$cn ${pa("scope")}="cms-article"></$cn>""" }
      val corp = elem(pe("corpus"), "", para() + (if (rnd.nextBoolean()) para() else ""))
      val dept = {
        val rn = pe("related"); val dn = pe("directory")
        val mn = pe("meta"); val idn = pe("id")
        s"""<$rn ${pa("rel")}="department"><$dn><$mn><$idn ${pa("scope")}="url">d$i</$idn></$mn></$dn></$rn>"""
      }
      (i.toLong, s"<${pe("item")}>$cat$corp$dept</${"DUMMY"}>")
    }.map { case (i, x) =>
      // close the root with its own name (pe() was already consumed)
      val root = x.substring(1, x.indexOf('>'))
      (i, x.stripSuffix("</DUMMY>") + s"</$root>")
    }
    val docs = rows.toDF("doc_id", "xml")
    val kernel = XmlCorpus.articles(docs).select("doc_id", "department", "content")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val twin = XmlCorpus.articlesXpathTwin(docs).select("doc_id", "department", "content")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    println(s"[fuzz] kernel=${kernel.size} twin=${twin.size} equal=${kernel == twin}")
    if (kernel != twin) {
      val km = kernel.map(t => t._1 -> t).toMap
      val tm = twin.map(t => t._1 -> t).toMap
      (kernel.map(_._1) ++ twin.map(_._1)).distinct.sorted.take(5).foreach { id =>
        if (km.get(id) != tm.get(id)) {
          println(s"[fuzz] DIVERGE doc=$id\n  kernel=${km.get(id)}\n  twin=${tm.get(id)}\n  xml=${rows(id.toInt)._2}")
        }
      }
      sys.exit(1)
    }
    spark.stop()
  }
}

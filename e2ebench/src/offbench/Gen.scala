package offbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** What the pipeline must make of a generated TSV, predicted from the
  * generator's own view of each row (which code it reused, which brand
  * id it drew), never from anything the program computed. */
final case class EtlTruth(
    rowsIn: Long, rowsOut: Long, brands: Long, categories: Long,
    countries: Long, times: Long) {
  def rowsRejected: Long = rowsIn - rowsOut
}

/** Seeded input generators. Every generator takes the seed as an
  * argument, and the same seed gives identical inputs, so files written
  * by one run may serve the next run with the same (generator, seed). */
object Gen {

  /** Seeded Fisher-Yates shuffle, in place. */
  private def shuffle[T](xs: Array[T], rng: SplittableRandom): Array[T] = {
    var k = xs.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = xs(k); xs(k) = xs(j); xs(j) = t
      k -= 1
    }
    xs
  }

  /** A reference-shaped Open Food Facts dump: one tab-separated file with
    * the 17 allowlisted columns plus 198 filler columns (215 in all, the
    * column count the reference scanner parses). Shapes follow
    * `graft.bench.OffTsvGen`: accents and trademark signs for the clean
    * chain, invalid markers, multi-country lists, out-of-bounds nutrients,
    * salt-only and sodium-only rows, duplicate codes with older timestamps
    * (window-dedup rejects), and empty / "null" codes (code-filter
    * rejects). Unlike OffTsvGen, values are drawn from a seeded stream. */
  def offTsv(file: Path, rows: Int, seed: Long): EtlTruth = {
    val rng = new SplittableRandom(seed)
    val names = Array("Côte d'Or™ Chocolat", "Muesli Croustillant", "Jus d'Orange Bio",
      "Fromage à Pâte Molle", "Galletas María", "Späzle Natur", "Crème Brûlée", "Pain Complet")
    // raw value -> the silver array it becomes (lower-cased, invalid
    // markers filled with the pipeline's default)
    val countries = Array(
      "France" -> "france", "France, Belgium" -> "france,belgium", "Spain" -> "spain",
      "Germany, Austria" -> "germany,austria", "undefined" -> "pays inconue",
      "Italy" -> "italy", "n/a" -> "pays inconue", "Belgium" -> "belgium")
    val grades = Array("a", "b", "c", "d", "e", "unknown", "a", "b", "none", "c", "")
    val brandIds = 1500
    val categoryIds = 200
    val codeBase = Math.floorMod(seed, 9000L) * 100000000L

    // kept row per valid code: (timestamp, brand id or -1, category id or -1, country key)
    val kept = mutable.HashMap.empty[String, (Long, Int, Int, String)]
    val validCodes = mutable.ArrayBuffer.empty[String]
    val header = (Seq("code", "product_name", "brands", "main_category", "categories_en",
      "countries_en", "last_modified_t", "nutriscore_grade", "energy-kcal_100g", "fat_100g",
      "saturated-fat_100g", "sugars_100g", "salt_100g", "proteins_100g", "fiber_100g",
      "sodium_100g", "completeness") ++ (1 to 198).map(n => s"extra_col_$n")).mkString("\t")
    val fillers = (1 to 198).map(n => s"f$n").mkString("\t")

    Files.createDirectories(file.getParent)
    val out = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write(header); out.write('\n')
      var i = 0
      while (i < rows) {
        val r = rng.nextInt(1000)
        val dupOf = if (r < 3 && validCodes.nonEmpty) validCodes(rng.nextInt(validCodes.size)) else null
        val code =
          if (dupOf != null) dupOf
          else if (r == 3) ""
          else if (r == 4) "null"
          else f"${codeBase + i.toLong * 7L + rng.nextInt(7)}%013d"
        val ts =
          if (dupOf != null) kept(dupOf)._1 - 1000L - rng.nextInt(100000)
          else 1600000000L + rng.nextInt(80000000)
        val brandRaw = rng.nextInt(50)
        val brand = if (brandRaw == 0) -1 else rng.nextInt(brandIds)
        val catRaw = rng.nextInt(100)
        val category = if (catRaw == 0) -1 else rng.nextInt(categoryIds)
        val (countryRaw, countryKey) = countries(rng.nextInt(countries.length))
        val salt = if (rng.nextInt(100) == 0) 30 + rng.nextInt(30) else rng.nextInt(6)
        val sugars = if (rng.nextInt(100) == 0) 81 + rng.nextInt(18) else rng.nextInt(60)
        val saltOrSodium = rng.nextInt(3)
        val fields = Array(
          code,
          s"${names(rng.nextInt(names.length))} No ${rng.nextInt(97)}",
          if (brand < 0) (if (brandRaw % 2 == 0) "unknown" else "") else s"Brand $brand",
          s"en:Category ${Math.max(category, 0) % 40}-style",
          if (category < 0) "undefined" else s"Category $category",
          countryRaw,
          ts.toString,
          grades(rng.nextInt(grades.length)),
          rng.nextInt(1200).toString,
          rng.nextInt(120).toString,
          rng.nextInt(90).toString,
          sugars.toString,
          if (saltOrSodium == 0) "" else salt.toString,
          rng.nextInt(110).toString,
          rng.nextInt(60).toString,
          if (saltOrSodium == 0) (salt / 2.5).toString else "",
          (rng.nextInt(101) / 100.0).toString)
        out.write(fields.mkString("\t")); out.write('\t'); out.write(fillers); out.write('\n')
        if (dupOf == null && r != 3 && r != 4) {
          kept(code) = (ts, brand, category, countryKey)
          validCodes += code
        }
        i += 1
      }
    } finally out.close()

    val rowsOut = kept.size.toLong
    // an invalid brand or category is filled with one shared default value
    val brands = kept.valuesIterator.map(_._2).toSet.size.toLong
    val categories = kept.valuesIterator.map(_._3).toSet.size.toLong
    val countriesN = kept.valuesIterator.map(_._4).toSet.size.toLong
    val times = kept.valuesIterator.map(_._1).toSet.size.toLong
    EtlTruth(rows.toLong, rowsOut, brands, categories, countriesN, times)
  }

  /** A near-duplicate corpus: `clusters` base documents, each followed by
    * `variants` copies with one word replaced (Jaccard of 5-char shingles
    * to the base near 0.95), plus singleton documents filling up to
    * `docs`. Words come from a seeded vocabulary large enough that two
    * unrelated documents share almost no shingles. Ids are a seeded
    * permutation of 0 until docs. */
  def nearDupCorpus(docs: Int, clusters: Int, variants: Int, seed: Long): Array[(Long, String)] = {
    require(clusters * (1 + variants) <= docs, "clusters do not fit in the corpus")
    val rng = new SplittableRandom(seed)
    val vocab = Array.fill(20000) {
      val len = 4 + rng.nextInt(6)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + rng.nextInt(26)).toChar))
      sb.toString
    }
    def words(): Array[String] = Array.fill(40 + rng.nextInt(40))(vocab(rng.nextInt(vocab.length)))
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until clusters).foreach { _ =>
      val base = words()
      texts += base.mkString(" ")
      (0 until variants).foreach { _ =>
        val v = base.clone()
        v(rng.nextInt(v.length)) = vocab(rng.nextInt(vocab.length))
        texts += v.mkString(" ")
      }
    }
    while (texts.size < docs) texts += words().mkString(" ")
    shuffle(Array.range(0, docs).map(_.toLong), rng).zip(texts)
  }

  /** Silver-shaped product rows (`graft.model.OffModel.silverSchema`):
    * `n` products with distinct 13-digit codes in a seeded order, cleaned
    * lower-case text, one to two countries, nutrients with nulls. */
  def products(n: Int, seed: Long): Seq[org.apache.spark.sql.Row] = {
    val rng = new SplittableRandom(seed)
    val countries = Array("france", "belgium", "spain", "germany", "austria", "italy")
    val grades = Array("a", "b", "c", "d", "e", "non classe")
    def nutrient(hi: Int): Any = if (rng.nextInt(10) == 0) null else rng.nextInt(hi * 10) / 10.0
    val codeBase = Math.floorMod(seed, 9000L) * 100000000L
    val codes = shuffle(Array.tabulate(n)(i => f"${codeBase + i.toLong * 7L + rng.nextInt(7)}%013d"), rng)
    codes.toSeq.map { code =>
      val category = rng.nextInt(200)
      val kcal = nutrient(900)
      org.apache.spark.sql.Row(
        code, s"product ${rng.nextInt(100000)}", s"brand ${rng.nextInt(1500)}",
        s"category ${category % 40}", s"category $category",
        (0 to rng.nextInt(2)).map(_ => countries(rng.nextInt(countries.length))).distinct,
        1600000000L + rng.nextInt(80000000), grades(rng.nextInt(grades.length)),
        kcal, nutrient(100), nutrient(60), nutrient(100), nutrient(10), nutrient(80),
        nutrient(40), nutrient(4), rng.nextInt(101) / 100.0,
        if (kcal == null) null else kcal.asInstanceOf[Double] * 4.184)
    }
  }
}

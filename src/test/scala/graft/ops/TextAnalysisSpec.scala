package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

/** Accuracy gate for the char-trigram language classifier (q28) on a
  * deterministic multilingual sample set — one natural-prose snippet per
  * profile language plus a no-signal control. */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val samples = Seq(
    ("en", "the quick brown fox jumps over the lazy dog and all the " +
      "children were having such a wonderful time that they could not " +
      "stop laughing with delight at everything they saw"),
    ("en", "this is not what you thought it was because the weather " +
      "report said that there would have been rain all over the coast"),
    ("de", "der schnelle braune fuchs springt über den faulen hund und " +
      "die kinder lachten auf dem weg zur schule über die geschichte"),
    ("de", "das ist eine wunderbare gelegenheit für alle die mit der " +
      "bahn zur arbeit fahren und dabei die zeitung lesen"),
    ("fr", "les enfants jouaient dans le jardin avec une balle rouge " +
      "pendant que les parents préparaient le repas du soir avec des légumes"),
    ("fr", "il est difficile de comprendre pourquoi les gens qui " +
      "habitent dans cette ville ne prennent pas le train tous les jours"),
    ("es", "los niños jugaban en el parque con una pelota roja mientras " +
      "los padres preparaban la comida para toda la familia en la casa"),
    ("es", "es importante comprender como las personas de esta ciudad " +
      "trabajan juntas para mejorar el transporte y las escuelas del barrio"),
    ("bg", "децата играеха в парка с червена топка докато родителите " +
      "приготвяха храната за цялото семейство в къщата като се радваха"),
    ("bg", "познанието за историята на страната е важно за всички които " +
      "искат да разбират какво става в обществото и да преценяват нещата"),
    ("it", "che bella giornata ci sono molti italiani che parlano della " +
      "situazione politica e tutti vogliono sapere che cosa succede"),
    ("pt", "você não sabe o que eles fazem mas nós temos uma casa bem " +
      "grande e seu irmão disse que a nação precisa de todos"),
    ("nl", "het is een mooie dag en wij gaan naar de winkel waar de " +
      "kinderen een nieuwe fiets kunnen kopen want zij hebben geen geld " +
      "maar wel een goed idee"),
    ("sv", "och det är inte alltid lätt att veta om man kan eller ska " +
      "gå till skolan men många svenska barn vill lära sig något nytt " +
      "varje dag"),
    ("pl", "przez wiele lat polski rynek pracy zmienia się szybko a " +
      "ludzie często szukają nowej pracy czy nawet szybciej w innych " +
      "miastach naszego kraju"),
    ("tr", "bir gün türkiye de yaşayan insanlar için yeni bir şey " +
      "yapmak istedi ve onlar bu konuda çok şey söyledi"),
    ("ro", "pentru ca acest lucru este important pentru romania si " +
      "pentru oamenii care vor sa inteleaga mai multe lucruri despre " +
      "istoria tarii lor"),
    ("id", "orang yang ada di indonesia itu akan menjadi teman yang " +
      "baik dan mereka terus bekerja dalam kehidupan nyata sehari hari"),
    ("ru", "что это значит для русских людей которые хотят жить лучше " +
      "и узнать больше о своей стране может быть скоро все изменится"),
    ("uk", "українські люди хочуть жити у своїй країні де багато " +
      "цікавих місць і кожна людина від того має більше можливостей " +
      "і це важливе питання"),
    ("sr", "најважније је да сви људи имају једнаке могућности и да " +
      "србија буде земља у којој свако може да оствари своје жеље"),
    ("el", "η ελλάδα είναι μια χώρα με μεγάλη ιστορία και πολλά νησιά"),
    ("ar", "هذه هي اللغة العربية التي يتحدث بها الناس في بلدان كثيرة"),
    ("he", "זוהי השפה העברית שבה אנשים מדברים בכל יום"),
    ("hi", "यह हिंदी भाषा है जो भारत में बोली जाती है"),
    ("th", "นี่คือภาษาไทยที่คนพูดกันทุกวัน"),
    ("ko", "이것은 한국어 문장입니다 많은 사람들이 말합니다"),
    ("ja", "これは日本語の文章ですみんなが話します"),
    ("zh", "这是中文句子很多人都说这种语言"),
    ("xx", "zzz qqq 123 456"))

  test("script-gated trigram langid classifies 24 languages + control correctly") {
    val df = samples.zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, lang, text) }
      .toDF("doc_id", "expected", "text")
    val pred = TextOps.langIdOn(df.select($"doc_id", $"text"))
      .join(df.select($"doc_id", $"expected"), Seq("doc_id"))
      .select($"doc_id", $"expected", $"lang_pred")
      .collect()
    val wrong = pred.filter(r => r.getString(1) != r.getString(2))
    assert(wrong.isEmpty,
      s"misclassified: ${wrong.map(r => s"${r.getLong(0)}:${r.getString(1)}->${r.getString(2)}").mkString(", ")}")
  }

  /** Shorter, harder snippets (roughly tweet-length, heavy function-word
    * overlap between es/pt, de/nl, ru/uk/bg/sr) — the regression canary:
    * a profile edit that quietly breaks one language fails ITS row here,
    * not an aggregate average that 23 healthy languages can hide. */
  private val hardSamples = Seq(
    ("en", "nobody knew where the children had gone that evening"),
    ("en", "she would rather walk home than wait for the bus"),
    ("de", "niemand wusste wohin die kinder an jenem abend gegangen waren"),
    ("de", "sie würde lieber zu fuß nach hause gehen als warten"),
    ("fr", "personne ne savait où les enfants étaient partis ce soir"),
    ("fr", "elle préfère rentrer à pied plutôt que d'attendre le bus"),
    ("es", "nadie sabía adónde habían ido los niños esa noche"),
    ("es", "ella prefiere caminar a casa antes que esperar el autobús"),
    ("pt", "ninguém sabia para onde as crianças tinham ido naquela noite"),
    ("pt", "ela prefere caminhar para casa do que esperar o ônibus"),
    ("it", "nessuno sapeva dove fossero andati i bambini quella sera"),
    ("it", "lei preferisce tornare a casa a piedi che aspettare"),
    ("nl", "niemand wist waar de kinderen die avond naartoe waren gegaan"),
    ("nl", "zij loopt liever naar huis dan op de bus te wachten"),
    ("sv", "ingen visste vart barnen hade tagit vägen den kvällen"),
    ("sv", "hon går hellre hem än väntar på bussen"),
    ("pl", "nikt nie wiedział dokąd poszły dzieci tamtego wieczoru"),
    ("pl", "ona woli iść do domu pieszo niż czekać na autobus"),
    ("tr", "o akşam çocukların nereye gittiğini kimse bilmiyordu"),
    ("tr", "otobüsü beklemektense eve yürümeyi tercih ediyor"),
    ("ro", "nimeni nu știa unde plecaseră copiii în acea seară"),
    ("ro", "ea preferă să meargă acasă pe jos decât să aștepte"),
    ("id", "tidak ada yang tahu ke mana anak anak pergi malam itu"),
    ("id", "dia lebih suka berjalan pulang daripada menunggu bus"),
    ("ru", "никто не знал куда ушли дети в тот вечер"),
    ("ru", "она предпочитает идти домой пешком чем ждать автобус"),
    ("uk", "ніхто не знав куди пішли діти того вечора"),
    ("uk", "вона воліє йти додому пішки ніж чекати на автобус"),
    ("bg", "никой не знаеше къде са отишли децата онази вечер"),
    ("bg", "тя предпочита да върви пеша до вкъщи отколкото да чака"),
    ("sr", "нико није знао куда су деца отишла те вечери"),
    ("sr", "она више воли да пешачи кући него да чека аутобус"))

  test("per-language accuracy floor: no profile edit may silently drop a " +
      "language below threshold") {
    val all = (samples.filter(_._1 != "xx") ++ hardSamples).zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, lang, text) }
      .toDF("doc_id", "expected", "text")
    val rows = TextOps.langIdOn(all.select($"doc_id", $"text"))
      .join(all.select($"doc_id", $"expected"), Seq("doc_id"))
      .select($"doc_id", $"expected", $"lang_pred").collect()
    val wrongDetail = rows.filter(r => r.getString(1) != r.getString(2))
      .map(r => s"${r.getLong(0)}:${r.getString(1)}->${r.getString(2)}")
    info(s"misrouted samples: ${wrongDetail.mkString(", ")}")
    val pred = rows.groupBy(_.getString(1)).map { case (lang, rs) =>
      (lang, rs.count(r => r.getString(1) == r.getString(2)).toDouble / rs.length,
        rs.length.toLong)
    }.toArray
    // every profile language must appear and clear the floor
    val accByLang = pred.map(r => r._1 -> r._2).toMap
    val floor = 0.5 // ≥ half of each language's samples, incl. the short ones
    val failing = accByLang.filter(_._2 < floor)
    assert(failing.isEmpty,
      s"languages below the $floor accuracy floor: " +
        failing.map { case (l, a) => f"$l=$a%.2f" }.mkString(", ") +
        s"; misrouted: ${wrongDetail.mkString(", ")}")
    // the long-prose rows alone stay perfect (covered by the exact test
    // above); the short-sample union must stay ≥ 0.85 overall
    val overall = pred.map(r => r._2 * r._3).sum / pred.map(_._3).sum
    assert(overall >= 0.85, f"overall langid accuracy $overall%.3f < 0.85" +
      s"; misrouted: ${wrongDetail.mkString(", ")}")
  }

  test("the Column minMatchCount equals Ngrams.minMatchCount for 0..2000 grams") {
    val got = (0 to 2000).toDF("n")
      .select(col("n"), TextOps.minMatchCount(col("n")).as("mmc"))
      .as[(Int, Long)].collect().toSeq
    val expected = (0 to 2000).map(n => (n, graft.text.Ngrams.minMatchCount(n).toLong))
    assert(got.sorted == expected)
  }

  test("repetition filter scores duplicated 5-grams and clean text apart") {
    val docs = Seq(
      // 10 tokens repeated 5x: a scraper-loop page — most 5-grams repeat
      (1L, Seq.fill(5)("alpha beta gamma delta epsilon zeta eta theta iota kappa").mkString(" ")),
      // 46 distinct tokens: no repeated 5-gram
      (2L, "the quick brown fox jumps over one lazy dog while seventeen " +
        "curious children watch from behind a tall wooden fence near the " +
        "old stone bridge that crosses our shallow winter river just " +
        "before it bends south toward those distant purple hills today"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (n1, d1, pm1) = out(1L)
    assert(n1 == 46 && d1 == 10, s"5x10-token loop: got $n1 grams, $d1 distinct")
    assert(pm1 == (46 - 10) * 1000 / 46, s"dup_pm $pm1")
    val (_, _, pm2) = out(2L)
    assert(pm2 == 0L, s"clean text must score 0, got $pm2")
    assert(out(3L) == ((0L, 0L, 0L)), "sub-5-token doc: zero grams, zero score")
  }
}

package graftbench

/** Short, citation-dense conversations with skewed precedent popularity.
  *
  * Precedents come in families. Family `f` has name variants n0..nL and
  * citations c0..c(L-1) (L = `ChainLinks`); a mention pairs either (n_j, c_j)
  * or (n_(j+1), c_j), so the name↔citation graph of a fully cited family is
  * one path n0-c0-n1-c1-...-nL of diameter 2L. Families are drawn Zipf(1)
  * over `families` ranks, so the hottest few appear in 10-50% of
  * conversations while the tail contributes tens of thousands of distinct
  * keys. Names are capitalised letter-only words: the "Name v. Name"
  * grammar that attaches a case name to a reporter citation rejects digits.
  * Everything derives from the seed.
  */
final case class SkewGen(seed: Long, nConvs: Int, families: Int = 100000,
                         mentionsPerConv: Int = 7) {
  import SkewGen._

  /** One planted precedent mention. */
  final case class Mention(family: Int, link: Int, caseName: String, citation: String)

  private val cdf: Array[Double] = {
    val w = Array.tabulate(families)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipf(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, families - 1)
  }

  def convId(i: Int): String = f"k$seed%d-$i%06d"

  /** The mentions planted in conversation `i`. */
  def mentions(i: Int): IndexedSeq[Mention] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + i)
    IndexedSeq.fill(mentionsPerConv) {
      val f = zipf(rng.nextDouble())
      val link = rng.nextInt(2 * ChainLinks)
      val j = link / 2
      Mention(f, link, caseName(f, j + link % 2), citation(f, j))
    }
  }

  def conversation(i: Int): Conv = {
    val id = convId(i)
    val rng = new java.util.SplittableRandom(seed * 7919L + i)
    val body = scala.collection.mutable.ArrayBuffer.empty[String]
    body += s"This matter concerns a dispute between ${word(rng.nextInt(4096))} and the State."
    for (m <- mentions(i))
      body += PrecedentTemplates(rng.nextInt(PrecedentTemplates.size)).format(m.caseName, m.citation)
    body += IssueTemplates(rng.nextInt(IssueTemplates.size))
    body += HoldingTemplates(rng.nextInt(HoldingTemplates.size))
    body += "In the result, the appeal is accordingly allowed and the impugned order is set aside."
    Conv(id, body.zipWithIndex.map { case (t, k) => (k, t) }.toSeq)
  }

  def convs: IndexedSeq[Conv] = (0 until nConvs).map(conversation)
}

object SkewGen {
  val ChainLinks = 8

  private val Syllables = Vector("ra", "ma", "ka", "shi", "lo", "de", "vi", "nu",
    "pa", "ti", "go", "ha", "ja", "be", "su", "ri")

  /** A capitalised letter-only word encoding `n` in base-16 syllables. */
  def word(n: Int): String = {
    val sb = new StringBuilder
    var x = n
    var k = 0
    while (k < 2 || x > 0) { sb.append(Syllables(x & 15)); x >>>= 4; k += 1 }
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  private val Respondents = Vector("State of Kerala", "Union of India", "State of Punjab",
    "State of Gujarat", "Municipal Corporation")

  /** Name variant `v` of family `f`: the surname changes along the chain. */
  def caseName(f: Int, v: Int): String =
    s"${word(f)} ${word(f * (ChainLinks + 1) + v)} v. ${Respondents(f % Respondents.size)}"

  /** Citation `j` of family `f`: a unique AIR reporter citation. */
  def citation(f: Int, j: Int): String =
    s"AIR ${1950 + (f * 7 + j) % 70} SC ${100 + f * ChainLinks + j}"

  private val PrecedentTemplates = Vector(
    "As held in %s, %s, the rules of natural justice apply to administrative action.",
    "Following the ratio in %s, %s, the procedure must be just, fair and reasonable.",
    "The present case is distinguishable from %s, %s, which turned on the statute.",
    "The petitioner relies on %s, %s, for the test of manifest arbitrariness.")

  private val IssueTemplates = Vector(
    "The question is whether the impugned order violates the principles of natural justice.",
    "The issue that arises is whether the classification satisfies the twin test of intelligible differentia and rational nexus.")

  private val HoldingTemplates = Vector(
    "We hold that the impugned order cannot be sustained as it was passed in violation of the principles of natural justice.",
    "We accordingly hold that the restriction does not satisfy the requirement of proportionality and must be struck down.")
}

package perfbench

import graft.chess.Chess

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: java.util.Random): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded PGN corpus: random-walk games whose every move is one the
  * program's own `Chess.State.applySan` accepts, so a well-formed game
  * always replays. Opening prefixes, players, ECO codes, results and
  * dates are Zipf-shared. Game `g` is malformed (an unparseable move, so
  * it must land in `issues`) when `g % 100 == 7`, and carries comments,
  * NAGs, suffixes and one-level variations when `g % 10 == 3`.
  */
object ChessGen {

  final case class Corpus(files: Vector[(String, String)], games: Int,
      wellFormed: Int, malformed: Int, annotated: Int, plies: Long,
      distinctFens: Int, inputBytes: Long) {
    def distinctFenShare: Double = distinctFens.toDouble / math.max(1L, plies)
  }

  private val fileChars = "abcdefgh"
  private def sqName(s: Int): String =
    s"${fileChars(Chess.fileOf(s))}${Chess.rankOf(s) + 1}"
  private val letters = Map(Chess.Knight -> "N", Chess.Bishop -> "B",
    Chess.Rook -> "R", Chess.Queen -> "Q", Chess.King -> "K")

  private def copyOf(s: Chess.State): Chess.State = {
    val t = new Chess.State
    System.arraycopy(s.board, 0, t.board, 0, 64)
    t.whiteToMove = s.whiteToMove
    t.castleWK = s.castleWK; t.castleWQ = s.castleWQ
    t.castleBK = s.castleBK; t.castleBQ = s.castleBQ
    t.epSquare = s.epSquare; t.halfmove = s.halfmove; t.fullmove = s.fullmove
    t
  }

  /** Geometric move candidates for the side to move, as SAN variants
    * (least to most disambiguated); the engine decides which are legal.
    */
  private def candidates(st: Chess.State): Vector[Vector[String]] = {
    val sg = if (st.whiteToMove) 1 else -1
    val b = st.board
    val out = Vector.newBuilder[Vector[String]]
    def target(f: Int, r: Int): Int =
      if (Chess.onBoard(f, r)) Chess.sq(f, r) else -1
    def enemyOrEmpty(d: Int): Boolean =
      d >= 0 && b(d) * sg <= 0 && math.abs(b(d)) != Chess.King
    var s = 0
    while (s < 64) {
      val p = b(s) * sg
      if (p > 0) {
        val f = Chess.fileOf(s); val r = Chess.rankOf(s)
        def piece(d: Int): Unit = {
          val x = if (b(d) != 0) "x" else ""
          val l = letters(p)
          out += Vector(s"$l$x${sqName(d)}", s"$l${fileChars(f)}$x${sqName(d)}",
            s"$l${r + 1}$x${sqName(d)}", s"$l${sqName(s)}$x${sqName(d)}")
        }
        p match {
          case Chess.Pawn =>
            val last = if (sg > 0) 7 else 0
            def pawnSan(base: String, d: Int): String =
              if (Chess.rankOf(d) == last) base + "=Q" else base
            val one = target(f, r + sg)
            if (one >= 0 && b(one) == 0) {
              out += Vector(pawnSan(sqName(one), one))
              val start = if (sg > 0) 1 else 6
              val two = target(f, r + 2 * sg)
              if (r == start && two >= 0 && b(two) == 0)
                out += Vector(sqName(two))
            }
            for (df <- Seq(-1, 1)) {
              val d = target(f + df, r + sg)
              if (d >= 0 && ((b(d) * sg < 0 && math.abs(b(d)) != Chess.King) ||
                  d == st.epSquare))
                out += Vector(pawnSan(s"${fileChars(f)}x${sqName(d)}", d))
            }
          case Chess.Knight | Chess.King =>
            val offs =
              if (p == Chess.Knight) Seq((1, 2), (2, 1), (2, -1), (1, -2),
                (-1, -2), (-2, -1), (-2, 1), (-1, 2))
              else Seq((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1),
                (0, -1), (1, -1))
            offs.foreach { case (df, dr) =>
              val d = target(f + df, r + dr)
              if (enemyOrEmpty(d)) piece(d)
            }
          case _ =>
            val dirs =
              (if (p != Chess.Rook) Seq((1, 1), (1, -1), (-1, 1), (-1, -1))
               else Nil) ++
              (if (p != Chess.Bishop) Seq((1, 0), (-1, 0), (0, 1), (0, -1))
               else Nil)
            dirs.foreach { case (df, dr) =>
              var k = 1
              var go = true
              while (go) {
                val d = target(f + k * df, r + k * dr)
                if (d < 0) go = false
                else {
                  if (enemyOrEmpty(d)) piece(d)
                  if (b(d) != 0) go = false
                }
                k += 1
              }
            }
        }
      }
      s += 1
    }
    out += Vector("O-O")
    out += Vector("O-O-O")
    out.result()
  }

  /** Extend `st` by one random engine-accepted move; None when no
    * candidate is accepted. */
  private def step(st: Chess.State, rng: java.util.Random)
      : Option[(String, Chess.State)] = {
    val cands = candidates(st)
    val order = (0 until cands.length).toArray
    var i = order.length - 1
    while (i > 0) { // Fisher-Yates
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    var k = 0
    while (k < order.length) {
      val variants = cands(order(k)).iterator
      while (variants.hasNext) {
        val san = variants.next()
        Chess.parseSan(san) match {
          case Right(m) =>
            val next = copyOf(st)
            if (next.applySan(m).isRight) return Some((san, next))
          case Left(_) => ()
        }
      }
      k += 1
    }
    None
  }

  private val firstNames = Vector("Anna", "Boris", "Carlos", "Dana", "Elif",
    "Femi", "Goran", "Hana", "Ivan", "Jia", "Kofi", "Lena", "Mikhail",
    "Nora", "Omar", "Priya", "Quinn", "Rosa", "Sven", "Tomas")
  private val lastNames = Vector("Petrov", "Garcia", "Kim", "Nakamura",
    "Okafor", "Schmidt", "Rossi", "Silva", "Novak", "Haddad", "Larsen",
    "Mehta", "Kowalski", "Dubois", "Ivanova", "Tanaka", "Moreau", "Costa")
  private val results = Vector("1-0", "1/2-1/2", "0-1")
  private val comments = Vector("good move", "the critical line",
    "a sacrifice for the initiative", "tactical chance", "endgame looms")

  def generate(seed: Long, nGames: Int, gamesPerFile: Int): Corpus = {
    val rng = new java.util.Random(seed)
    // shared opening prefixes (4-12 plies), drawn Zipf across games
    val nPrefixes = 64
    val prefixes = Vector.fill(nPrefixes) {
      var st = new Chess.State
      val len = 4 + rng.nextInt(9)
      val sans = Vector.newBuilder[String]
      var ok = true
      var i = 0
      while (ok && i < len) step(st, rng) match {
        case Some((san, next)) => sans += san; st = next; i += 1
        case None => ok = false
      }
      (sans.result(), st)
    }
    val prefixZipf = new Zipf(nPrefixes, 1.1)
    val players = Vector.tabulate(400) { i =>
      val name = s"${lastNames(i % lastNames.length)}, " +
        s"${firstNames((i / lastNames.length) % firstNames.length)} ${i / 360 + 1}"
      (name, 1800 + rng.nextInt(1000))
    }
    val playerZipf = new Zipf(players.length, 0.9)
    val ecoZipf = new Zipf(500, 1.0)
    val resultZipf = new Zipf(3, 0.6)
    val yearZipf = new Zipf(40, 0.8)
    val fens = new java.util.HashSet[String]()
    var plies = 0L; var malformed = 0; var annotated = 0
    val texts = Vector.tabulate(nGames) { g =>
      val (prefix, pst) = prefixes(prefixZipf.sample(rng))
      var st = copyOf(pst)
      // lengths, malformed and annotated games follow the game index, so
      // corpus totals do not move with the seed; the moves do
      val target = 20 + (g * 53) % 100
      val sans = Vector.newBuilder[String] ++= prefix
      val gameFens = Vector.newBuilder[String]
      // replay the prefix FENs so the distinct count is exact
      locally {
        val r = new Chess.State
        prefix.foreach { san =>
          r.applySan(Chess.parseSan(san).toOption.get); gameFens += r.toFen
        }
      }
      var n = prefix.length
      var ok = true
      while (ok && n < target) step(st, rng) match {
        case Some((san, next)) =>
          sans += san; st = next; gameFens += next.toFen; n += 1
        case None => ok = false
      }
      val moves = sans.result()
      val isBad = g % 100 == 7
      val isAnnotated = g % 10 == 3
      if (isBad) malformed += 1
      else {
        plies += moves.length
        gameFens.result().foreach(fens.add)
      }
      if (isAnnotated) annotated += 1
      val badAt = if (isBad) rng.nextInt(moves.length) else -1
      val (w, wr) = players(playerZipf.sample(rng))
      val (bl, br) = players(playerZipf.sample(rng))
      val eco = ecoZipf.sample(rng)
      val ecoCode = f"${"ABCDE"(eco / 100)}${eco % 100}%02d"
      val result = results(resultZipf.sample(rng))
      val date = f"${2023 - yearZipf.sample(rng)}.${1 + rng.nextInt(12)}%02d." +
        f"${1 + rng.nextInt(28)}%02d"
      val sb = new StringBuilder
      sb.append(s"""[Event "Perfbench Open ${1 + g % 37}"]\n""")
      sb.append(s"""[Site "Board ${1 + g % 11}"]\n""")
      sb.append(s"""[Date "$date"]\n[Round "${1 + g % 9}"]\n""")
      sb.append(s"""[White "$w"]\n[Black "$bl"]\n[Result "$result"]\n""")
      sb.append(s"""[WhiteElo "$wr"]\n[BlackElo "$br"]\n[ECO "$ecoCode"]\n\n""")
      var col = 0
      def emit(tok: String): Unit = {
        if (col + tok.length > 78) { sb.append('\n'); col = 0 }
        else if (col > 0) { sb.append(' '); col += 1 }
        sb.append(tok); col += tok.length
      }
      moves.indices.foreach { i =>
        if (i % 2 == 0) emit(s"${i / 2 + 1}.")
        val san = if (i == badAt) "Zz9" else moves(i)
        if (isAnnotated && rng.nextInt(8) == 0) {
          emit(san + (if (rng.nextBoolean()) "!" else "?"))
          emit("$" + (1 + rng.nextInt(6)))
        } else emit(san)
        if (isAnnotated && rng.nextInt(10) == 0)
          emit("{" + comments(rng.nextInt(comments.length)) + "}")
        if (isAnnotated && i + 1 < moves.length && rng.nextInt(15) == 0)
          emit(s"(${moves(i + 1)} ${moves(i)})")
      }
      emit(result)
      sb.append("\n\n")
      sb.toString
    }
    val files = texts.grouped(gamesPerFile).zipWithIndex.map { case (gs, i) =>
      (f"games_$i%04d.pgn", gs.mkString)
    }.toVector
    Corpus(files, nGames, nGames - malformed, malformed, annotated, plies,
      fens.size, files.map(_._2.getBytes("UTF-8").length.toLong).sum)
  }
}

/** Seeded document corpus in the `documents` table shape (doc_id, text,
  * lang, source, n_chars): English-like Zipf vocabulary with the quality
  * scorer's stopwords, plus planted exact duplicates, near-duplicates
  * well above and well below the 0.8 Jaccard threshold, a low-quality
  * share and a non-ASCII share.
  */
object DocGen {

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  final case class Corpus(docs: Vector[Doc], exactGroups: Vector[Vector[Long]],
      nearAbove: Vector[(Long, Long)], nearBelow: Vector[(Long, Long)],
      lowQuality: Int, nonAscii: Int, inputBytes: Long) {
    def share(n: Int): Double = n.toDouble / docs.length
    def exactCopies: Int = exactGroups.map(_.length - 1).sum
  }

  private val stopwords = Vector("the", "a", "of", "and", "to", "in", "is",
    "that", "it", "for", "on", "with", "as", "at")
  private val onsets = Vector("b", "c", "d", "f", "g", "h", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "br", "ch", "st", "tr", "pl", "gr", "sh")
  private val vowels = Vector("a", "e", "i", "o", "u", "ea", "ou", "ai")
  private val codas = Vector("", "n", "r", "s", "t", "l", "nd", "st", "ng")
  private val accented = Vector("café", "naïve", "façade", "jalapeño",
    "über", "smörgåsbord", "crème", "東京", "データ", "Ελλάδα")

  private def word(rng: java.util.Random): String = {
    val syll = 1 + rng.nextInt(3)
    (0 until syll).map(_ => onsets(rng.nextInt(onsets.length)) +
      vowels(rng.nextInt(vowels.length)) +
      codas(rng.nextInt(codas.length))).mkString
  }

  /** Word 3-shingle Jaccard, used only to keep planted near-duplicates
    * far from the 0.8 threshold on either side. */
  def jaccard3(a: String, b: String): Double = {
    def sh(s: String): Set[String] = {
      val t = s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
      t.sliding(3).map(_.mkString(" ")).toSet
    }
    val x = sh(a); val y = sh(b)
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size
  }

  def generate(seed: Long, nDocs: Int): Corpus = {
    // one vocabulary for every seed, so that compressibility, and with it
    // the stored-bytes ratio, does not move with the seed
    val vocab = {
      val vrng = new java.util.Random(0x5DEECE66DL)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 6000) seen += word(vrng)
      seen.toVector
    }
    val rng = new java.util.Random(seed ^ 0x5DEECE66DL)
    val vocabZipf = new Zipf(vocab.length, 1.05)
    def tokens(n: Int, nonAscii: Boolean): Vector[String] =
      Vector.fill(n) {
        val u = rng.nextInt(100)
        if (u < 30) stopwords(rng.nextInt(stopwords.length))
        else if (nonAscii && u < 38) accented(rng.nextInt(accented.length))
        else vocab(vocabZipf.sample(rng))
      }
    def render(toks: Vector[String]): String = {
      val sb = new StringBuilder
      var sentence = 0
      toks.indices.foreach { i =>
        val t = toks(i)
        if (i > 0) sb.append(' ')
        if (sentence == 0) sb.append(t.capitalize) else sb.append(t)
        sentence += 1
        if (sentence > 8 && rng.nextInt(6) == 0) { sb.append('.'); sentence = 0 }
      }
      sb.append('.').toString
    }
    def garbage(): String =
      Vector.fill(10 + rng.nextInt(30)) {
        val n = rng.nextInt(1000000)
        if (rng.nextBoolean()) n.toString else s"#$n!?%"
      }.mkString(" ")
    def mutate(toks: Vector[String], share: Double): Vector[String] =
      toks.map(t => if (rng.nextDouble() < share) vocab(rng.nextInt(vocab.length)) else t)

    val docs = Vector.newBuilder[Doc]
    val exact = Vector.newBuilder[Vector[Long]]
    val above = Vector.newBuilder[(Long, Long)]
    val below = Vector.newBuilder[(Long, Long)]
    var lowQ = 0; var nonA = 0
    var id = 0L
    def add(text: String, src: Int): Long = {
      val d = id; id += 1
      docs += Doc(d, text, "en", s"src$src", text.length.toLong)
      d
    }
    // categories follow the base-document index, so every share is the
    // same for every seed; the texts are what the seed changes
    var k = 0
    while (id < nDocs) {
      val u = (k * 37) % 100
      val v = (k * 61 + 13) % 100
      k += 1
      val src = rng.nextInt(8)
      if (u < 4) { add(garbage(), src); lowQ += 1 }
      else {
        val na = u < 9
        if (na) nonA += 1
        val toks = tokens(80 + rng.nextInt(220), na)
        val text = render(toks)
        val base = add(text, src)
        if (v < 6) { // exact copies: groups of 2 or 3
          val copies = 1 + k % 2
          exact += (base +: Vector.fill(copies)(add(text, rng.nextInt(8))))
        } else if (v < 10) { // near-duplicate well above the threshold
          var t2 = render(mutate(toks, 0.01))
          while (jaccard3(text, t2) < 0.88) t2 = render(mutate(toks, 0.01))
          above += ((base, add(t2, src)))
        } else if (v < 14) { // near-duplicate well below the threshold
          var t2 = render(mutate(toks, 0.15))
          while (jaccard3(text, t2) > 0.65) t2 = render(mutate(toks, 0.15))
          below += ((base, add(t2, src)))
        }
      }
    }
    val all = docs.result()
    Corpus(all, exact.result(), above.result(), below.result(), lowQ, nonA,
      all.map(_.text.getBytes("UTF-8").length.toLong).sum)
  }
}

/** Seeded serving questions: templates over the `QueryIntent` vocabulary
  * (rating bounds, `Openings` synonyms, results, phases, themes, limits,
  * offsets), drawn with Zipf repeats from a pool of distinct requests.
  */
object QuestionGen {

  final case class Question(text: String, limit: Int, offset: Int) {
    def json: String = {
      val esc = text.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"question":"$esc","limit":$limit,"offset":$offset}"""
    }
  }

  private val openings = graft.chess.Openings.all
    .flatMap(_.synonyms.filter(s => s.forall(c => c.isLetter || c == ' ')))
    .toVector
  private val resultsPh = Vector("white wins", "black wins", "draws")
  private val phases = Vector("in the endgame", "in the middlegame")
  private val themes = Vector("sacrifice", "tactical", "king attack",
    "queenside majority")

  /** `n` distinct questions. Question `i` uses template `i % 8` and a
    * limit and offset fixed by `i`, so the shape mix of a Zipf-drawn
    * request stream does not depend on the seed; only the template
    * parameters do. */
  def pool(seed: Long, n: Int): Vector[Question] = {
    val rng = new java.util.Random(seed * 31 + 7)
    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.length))
    def rating(): Int = 2000 + 50 * rng.nextInt(13)
    val templates: Vector[() => String] = Vector(
      () => s"find games where white is rated at least ${rating()}",
      () => s"games where black is rated at least ${rating()} ${pick(resultsPh)}",
      () => s"${pick(openings)} games",
      () => s"${pick(openings)} ${pick(phases)}",
      () => s"show ${pick(resultsPh)} in the ${pick(openings)}",
      () => s"${pick(themes)} ${pick(phases)}",
      () => s"${pick(openings)} ${pick(themes)} white rated at least ${rating()}",
      () => s"${pick(resultsPh)} ${pick(phases)}")
    val seen = scala.collection.mutable.LinkedHashSet.empty[Question]
    while (seen.size < n) {
      val i = seen.size
      seen += Question(templates(i % templates.length)(), Vector(5, 10, 20)(i % 3),
        if (i / 3 % 3 == 2) 5 else 0)
    }
    seen.toVector
  }

  /** Request sequence of indices into the pool, Zipf-distributed. */
  def sequence(seed: Long, poolSize: Int, length: Int): Array[Int] = {
    val rng = new java.util.Random(seed * 17 + 3)
    val z = new Zipf(poolSize, 1.0)
    Array.fill(length)(z.sample(rng))
  }
}

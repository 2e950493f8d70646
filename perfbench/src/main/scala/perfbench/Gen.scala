package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Seeded input generators. Each is a pure function of its arguments,
  * so the same seed gives byte-identical inputs (GenSpec pins this);
  * the engine only ever sees what these produce. */
object Gen {

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def word(len: Int): String =
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  // ---------------------------------------------------------------
  // EHR corpus (FIXTURES.md §1 schema), one JSON object per line.

  val ehrFields: Seq[String] = Seq("patient", "encounters", "visits",
    "procedures", "diagnosis", "labs", "medications", "allergies", "notes")

  /** Share of (document, field) values drawn from a pool shared across
    * the corpus, so identical scoped prompts recur across documents
    * (the cache-backed map stage collapses them; the plain pipeline
    * does not). The share and the pool size are unverified
    * assumptions, not measured on a real EHR corpus. */
  val ehrRepeatShare = 0.5
  val ehrPoolSize = 4

  private val divisions = IndexedSeq("cardiology", "general", "neurology",
    "oncology", "pulmonology", "endocrinology")
  private val doctors = IndexedSeq("Dr. Vance", "Dr. Ortiz", "Dr. Chen",
    "Dr. Okafor", "Dr. Silva", "Dr. Novak")
  private val symptoms = IndexedSeq("intermittent chest tightness",
    "seasonal congestion", "persistent cough", "morning headaches",
    "fatigue on exertion", "joint stiffness", "dizziness when standing",
    "shortness of breath", "abdominal discomfort", "night sweats")
  private val findings = IndexedSeq("BP 138/88, HR 82", "afebrile, clear lungs",
    "mild wheeze", "normal exam", "tender left knee", "BMI 31",
    "SpO2 94 percent", "irregular rhythm")
  private val plans = IndexedSeq("stress test", "antihistamine trial",
    "chest x-ray", "follow-up in 6 weeks", "physical therapy",
    "repeat labs in 3 months", "sleep study", "dietary counselling")
  private val diagnoses = IndexedSeq("atypical angina", "allergic rhinitis",
    "acute bronchitis", "tension headache", "type 2 diabetes",
    "osteoarthritis", "orthostatic hypotension", "asthma", "hypertension")
  private val services = IndexedSeq(("echocardiogram", "imaging"),
    ("spirometry", "diagnostic"), ("vaccination", "preventive"),
    ("wound care", "procedure"), ("nutrition consult", "consult"))
  private val medications = IndexedSeq(("atorvastatin", "C10AA05", "20 mg daily"),
    ("loratadine", "R06AX13", "10 mg daily"), ("metformin", "A10BA02", "500 mg twice daily"),
    ("lisinopril", "C09AA03", "10 mg daily"), ("albuterol", "R03AC02", "2 puffs as needed"),
    ("ibuprofen", "M01AE01", "400 mg as needed"))
  private val allergens = IndexedSeq(("penicillin", "rash"), ("peanuts", "anaphylaxis"),
    ("latex", "hives"), ("sulfa drugs", "fever"), ("shellfish", "swelling"))
  private val labTests = IndexedSeq(
    ("lipid panel", IndexedSeq(("LDL", "mg/dL"), ("HDL", "mg/dL"), ("TG", "mg/dL"))),
    ("metabolic panel", IndexedSeq(("glucose", "mg/dL"), ("sodium", "mmol/L"),
      ("creatinine", "mg/dL"))),
    ("blood count", IndexedSeq(("WBC", "10^3/uL"), ("Hb", "g/dL"))),
    ("thyroid panel", IndexedSeq(("TSH", "mIU/L"))))
  private val noteTypes = IndexedSeq("progress", "discharge", "consult", "telephone")

  private def date(rng: Rng): String =
    f"20${rng.between(19, 25)}%02d-${rng.between(1, 12)}%02d-${rng.between(1, 28)}%02d"
  private def datetime(rng: Rng): String =
    f"${date(rng)}T${rng.between(7, 18)}%02d:${rng.pick(IndexedSeq(0, 15, 30, 45))}%02d:00Z"
  private def arr(n: Int)(f: => JValue): JArray = JArray(List.fill(n)(f))

  private def ehrField(field: String, rng: Rng): JValue = field match {
    case "patient" =>
      val first = rng.word(5).capitalize
      val last = rng.word(7).capitalize
      JObject("name" -> JString(s"$first $last"),
        "age" -> JInt(rng.between(18, 90)),
        "gender" -> JString(rng.pick(IndexedSeq("F", "M", "X"))),
        "contact" -> JObject(
          "phone" -> JString(f"555-${rng.int(10000)}%04d"),
          "email" -> JString(s"${first.toLowerCase}.${last.toLowerCase}@example.org"),
          "address" -> JString(s"${rng.between(1, 999)} ${rng.word(6).capitalize} Street")))
    case "encounters" => arr(rng.between(1, 3)) {
      JObject("datetime" -> JString(datetime(rng)),
        "division" -> JString(rng.pick(divisions)),
        "doctor" -> JString(rng.pick(doctors)),
        "subjective" -> JString(rng.pick(symptoms)),
        "objective" -> JString(rng.pick(findings)),
        "plan" -> JString(rng.pick(plans)),
        "diagnosis" -> JString(rng.pick(diagnoses)))
    }
    case "visits" => arr(rng.between(0, 2)) {
      val (svc, kind) = rng.pick(services)
      JObject("datetime" -> JString(datetime(rng)),
        "description" -> JString(s"${rng.pick(symptoms)} review"),
        "service_name" -> JString(svc), "service_type" -> JString(kind),
        "clinical_codes" -> arr(rng.between(1, 2))(
          JString(f"${('A' + rng.int(26)).toChar}${rng.int(100)}%02d.${rng.int(10)}")),
        "outcome_description" -> JString(rng.pick(findings)))
    }
    case "procedures" => arr(rng.between(0, 2)) {
      JObject("datetime" -> JString(datetime(rng)),
        "physicians" -> arr(rng.between(1, 2))(JString(rng.pick(doctors))),
        "SOAP" -> JObject("subjective" -> JString(rng.pick(symptoms)),
          "objective" -> JString(rng.pick(findings)),
          "assessment" -> JString(rng.pick(diagnoses)),
          "plan" -> JString(rng.pick(plans))))
    }
    case "diagnosis" => arr(rng.between(1, 2)) {
      JObject("datetime" -> JString(datetime(rng)),
        "physician" -> JString(rng.pick(doctors)),
        "medical_conclusions" -> JString(
          s"${rng.pick(diagnoses)}; ${rng.pick(plans)}"))
    }
    case "labs" => arr(rng.between(1, 2)) {
      val (test, analytes) = rng.pick(labTests)
      JObject("test_name" -> JString(test),
        "datetime" -> JString(datetime(rng)),
        "results" -> JObject(analytes.toList.map { case (a, unit) =>
          a -> JString(s"${rng.between(1, 250)} $unit")
        }))
    }
    case "medications" => arr(rng.between(1, 3)) {
      val (name, code, dosage) = rng.pick(medications)
      JObject("name" -> JString(name), "code" -> JString(code),
        "start_date" -> JString(date(rng)),
        "end_date" -> (if (rng.chance(0.5)) JNull else JString(date(rng))),
        "dosage" -> JString(dosage))
    }
    case "allergies" => arr(rng.between(0, 2)) {
      val (allergen, reaction) = rng.pick(allergens)
      JObject("allergen" -> JString(allergen), "reaction" -> JString(reaction),
        "date_reported" -> JString(date(rng)))
    }
    case "notes" => arr(rng.between(1, 2)) {
      JObject("note_type" -> JString(rng.pick(noteTypes)),
        "datetime" -> JString(datetime(rng)),
        "physician" -> JString(rng.pick(doctors)),
        "subjective" -> JString(rng.pick(symptoms)),
        "objective" -> JString(rng.pick(findings)),
        "assessment" -> JString(rng.pick(diagnoses)),
        "plan" -> JString(rng.pick(plans)))
    }
  }

  /** `nDocs` EHR records; each carries a `record_id` the output checks
    * key on (no instruction scopes it, so it never reaches a prompt). */
  def ehrCorpus(seed: Long, nDocs: Int): IndexedSeq[String] = {
    val rng = new Rng(seed)
    val pool = ehrFields.map(f =>
      f -> IndexedSeq.fill(ehrPoolSize)(ehrField(f, rng))).toMap
    (0 until nDocs).map { i =>
      val fields = ehrFields.toList.map { f =>
        f -> (if (rng.chance(ehrRepeatShare)) rng.pick(pool(f)) else ehrField(f, rng))
      }
      compact(render(JObject(("record_id" -> JString(f"r$seed%d-$i%05d")) :: fields)))
    }
  }

  // ---------------------------------------------------------------
  // CDC op streams for the maintained near-dup (documents) and
  // entity-resolution (customer) indexes, in the testdata schema.

  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long)
  final case class Cust(custKey: Long, name: String, nationKey: Int,
      acctbal: Double, segment: String)
  /** One CDC op: "add" or "delete" of the record with this key. */
  final case class Op(op: String, key: Long)
  final case class Cdc[T](records: IndexedSeq[T], batches: IndexedSeq[IndexedSeq[Op]]) {
    /** Keys live after every batch is applied (adds before deletes
      * within a batch, the maintainers' documented order). */
    def finalKeys: Set[Long] = batches.foldLeft(Set.empty[Long]) { (live, b) =>
      live ++ b.filter(_.op == "add").map(_.key) -- b.filter(_.op == "delete").map(_.key)
    }
  }

  /** Share of new records that are planted near-duplicates (documents:
    * one token substituted from an earlier document; customers: one
    * edit to an earlier name, same nation and segment). */
  val nearDupShare = 0.25
  /** Per batch from batch 1 on, share of the batch size deleted from
    * the live set. */
  val deleteShare = 0.06
  /** Share of deleted keys re-added (same record) two batches later. */
  val reAddShare = 0.5
  val docTokens = 60

  private val vocab: IndexedSeq[String] = {
    val rng = new Rng(7L)
    IndexedSeq.fill(3000)(rng.word(rng.between(4, 8)))
  }
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  /** The add/delete/re-add op schedule over `nBatches` batches of
    * `perBatch` new records; `make(i, rng, earlier)` builds record i. */
  private def cdc[T](rng: Rng, nBatches: Int, perBatch: Int, key: T => Long)(
      make: (Int, IndexedSeq[T]) => T): Cdc[T] = {
    val recs = IndexedSeq.newBuilder[T]
    var made = IndexedSeq.empty[T]
    var live = Vector.empty[Long]
    val reAdds = scala.collection.mutable.Map.empty[Int, Vector[Long]]
    val batches = (0 until nBatches).map { b =>
      val fresh = (0 until perBatch).map { _ =>
        val r = make(made.size, made); made :+= r; recs += r; key(r)
      }
      val back = reAdds.remove(b).getOrElse(Vector.empty)
      // deletes touch only keys live before this batch, so no key is
      // added and deleted in one batch
      val nDel = if (b < 1) 0 else math.round(deleteShare * perBatch).toInt
      val dels = (0 until nDel).map(_ => live(rng.int(live.size))).distinct
      dels.foreach { k =>
        if (rng.chance(reAddShare) && b + 2 < nBatches)
          reAdds(b + 2) = reAdds.getOrElse(b + 2, Vector.empty) :+ k
      }
      live = (live.filterNot(dels.toSet) ++ fresh ++ back)
      (fresh ++ back).map(Op("add", _)) ++ dels.map(Op("delete", _))
    }
    Cdc(recs.result(), batches)
  }

  def docStream(seed: Long, nBatches: Int, perBatch: Int): Cdc[Doc] = {
    val rng = new Rng(seed * 31 + 1)
    cdc[Doc](rng, nBatches, perBatch, _.docId) { (i, earlier) =>
      val toks =
        if (earlier.nonEmpty && rng.chance(nearDupShare)) {
          val base = rng.pick(earlier).text.split(" ")
          base.updated(rng.between(1, base.length - 2), rng.pick(vocab)).toIndexedSeq
        } else IndexedSeq.fill(docTokens)(rng.pick(vocab))
      val text = toks.mkString(" ")
      Doc(i.toLong, text, rng.pick(IndexedSeq("en", "de", "fr")),
        rng.pick(IndexedSeq("web", "news", "forum")), text.length.toLong)
    }
  }

  def custStream(seed: Long, nBatches: Int, perBatch: Int): Cdc[Cust] = {
    val rng = new Rng(seed * 31 + 2)
    cdc[Cust](rng, nBatches, perBatch, _.custKey) { (i, earlier) =>
      val bal = (rng.int(1000000) - 100000) / 100.0
      if (earlier.nonEmpty && rng.chance(nearDupShare)) {
        val base = rng.pick(earlier)
        val n = base.name
        val p = rng.between(1, n.length - 2)
        val c = ('a' + rng.int(26)).toChar
        val edited = rng.int(3) match {
          case 0 => n.updated(p, c)
          case 1 => n.patch(p, Nil, 1)
          case _ => n.patch(p, Seq(c), 0)
        }
        Cust(i.toLong, edited, base.nationKey, bal, base.segment)
      } else
        Cust(i.toLong, s"${rng.word(7).capitalize} ${rng.word(8).capitalize}",
          rng.int(25), bal, rng.pick(segments))
    }
  }
}

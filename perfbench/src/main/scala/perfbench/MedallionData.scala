package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.{DigestOutputStream, MessageDigest}

import scala.collection.mutable
import scala.util.Random

/** Seeded StreamPro landing data for one ingestion date, scaled from the
  * planted design of the test fixture (`graft.fixtures.StreamProFixture`)
  * to `blocks` × 100 users. Every block of 100 users repeats that design
  * with its own user ids, so the notebook's answers scale exactly:
  *
  *   - one user per block (local index 78) has ≥30 s of first-session
  *     watch time (39.0 s); three per block (5, 23, 60) have none;
  *   - Comedy viewers (local index % 4 == 1) get the highest later watch
  *     time, so Comedy is the dominant genre;
  *   - the iOS + 2.0.1 cohort (25, 46, 48, 67, 95) has 3 of 5 users below
  *     5 s of first-session watch time (60 %), every other combo ≤ 40 %.
  *
  * The seed varies everything the answers do not depend on: user
  * attributes, network/ip fields, timestamp seconds, the number of
  * null-valued filler events (seek/buffer) per session and the order of
  * users in the events file. */
object MedallionData {

  val IngestionDate = "2025-09-09"
  val Genres = Seq("Action", "Comedy", "Drama", "Documentary")
  val NoWatch = Set(5, 23, 60)
  val IosCohort = Seq(25, 46, 48, 67, 95)
  val IosLow = Set(25, 46, 48)
  val Combos: Seq[(String, String)] =
    ("iOS", "2.0.1") +: (for {
      os <- Seq("iOS", "Android", "Windows")
      v <- Seq("1.0.6", "1.2.0", "1.5.3", "2.1.0", "2.3.4", "2.8.6", "3.0.0")
    } yield (os, v)).take(19)
  private val others = (1 to 100).filterNot(IosCohort.contains)

  def comboOf(i: Int): Int =
    if (IosCohort.contains(i)) 0 else 1 + others.indexOf(i) / 5

  def lowWatch(i: Int): Boolean =
    if (NoWatch.contains(i) || IosLow.contains(i)) true
    else if (i == 78 || comboOf(i) == 0) false
    else others.grouped(5).toSeq(comboOf(i) - 1).filterNot(_ == 78).head == i

  def userId(block: Int, i: Int): String = s"user_${block * 100 + i}"

  /** What the generator wrote: per-table rows and a SHA-256 over the
    * files in name order. */
  final case class Landing(dir: Path, blocks: Int, rows: Map[String, Long],
      bytes: Long, sha256: String) {
    def users: Long = rows("users")
  }

  def write(root: Path, blocks: Int, seed: Long): Landing = {
    val landing = Files.createDirectories(root.resolve("landing"))
    val rnd = new Random(seed)
    val digest = MessageDigest.getInstance("SHA-256")
    val rows = mutable.Map.empty[String, Long]
    var bytes = 0L
    def file(table: String, ext: String)(body: BufferedWriter => Long): Unit = {
      val p = landing.resolve(s"${table}_$IngestionDate.$ext")
      val out = new BufferedWriter(new OutputStreamWriter(
        new DigestOutputStream(Files.newOutputStream(p), digest), StandardCharsets.UTF_8), 1 << 16)
      try rows(table) = body(out) finally out.close()
      bytes += Files.size(p)
    }
    val tiers = Seq("Free", "Basic", "Premium")
    val ages = Seq("18-25", "26-35", "36-50", "50+")
    val genders = Seq("Male", "Female", "Other")
    val users = for (b <- 0 until blocks; i <- 1 to 100) yield (b, i)

    file("devices", "csv") { w =>
      w.write("device,os,model,os_version\nmobile,iOS,iPhone X,14.6\n" +
        "mobile,Android,Galaxy S20,11\nmobile,Android,Pixel 5,12\n" +
        "tablet,iOS,iPad Pro,14.6\ntablet,Android,Samsung Tab,10\n")
      5
    }
    file("events", "jsonl") { w =>
      var n = 0L
      rnd.shuffle(users).foreach { case (b, i) =>
        val uid = userId(b, i)
        val (os, appVer) = Combos(comboOf(i))
        val video = s"video_${i % 4 + 1}"
        val comedy = i % 4 == 1
        val device = if (rnd.nextInt(5) == 0) "tablet" else "mobile"
        for (day <- 0 to 4; sub <- 0 to 1) {
          val session = s"${uid}_sess_${day}_$sub"
          val prefix = f"2025-04-${1 + day}%02dT${6 + sub * 6}%02d:"
          val net = if (rnd.nextBoolean()) "wifi" else "4g"
          val ip = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
          var minute = 0
          def emit(name: String, value: String): Unit = {
            val ts = f"$prefix$minute%02d:${rnd.nextInt(60)}%02d"
            minute += 1
            w.write(s"""{"timestamp": "$ts", "account_id": "acct_${b * 100 + i}", "video_id": "$video", "user_id": "$uid", "event_name": "$name", "value": $value, "device": "$device", "app_version": "$appVer", "device_os": "$os", "network_type": "$net", "ip": "$ip", "country": "US", "session_id": "$session"}""")
            w.write('\n')
            n += 1
          }
          def filler(): Unit =
            (1 to rnd.nextInt(4)).foreach(_ => emit(if (rnd.nextBoolean()) "seek" else "buffer", "null"))
          emit("play", "null")
          filler()
          if (day == 0 && sub == 0) {
            if (i == 78) (1 to 5).foreach(_ => emit("watch_time", "7.8"))
            else if (NoWatch.contains(i)) emit("pause", "null")
            else if (lowWatch(i)) { emit("watch_time", "1.0"); emit("watch_time", "1.5") }
            else { emit("watch_time", "6.0"); emit("watch_time", "7.5") }
          } else {
            val v = if (comedy) "9.0" else "3.0"
            emit("watch_time", v)
            emit("watch_time", v)
          }
          filler()
          emit("stop", "null")
        }
      }
      n
    }
    file("users", "csv") { w =>
      w.write("user_id,signup_date,subscription_tier,age_group,gender\n")
      users.foreach { case (b, i) =>
        w.write(f"${userId(b, i)},2025-03-${rnd.nextInt(28) + 1}%02d," +
          s"${tiers(rnd.nextInt(3))},${ages(rnd.nextInt(4))},${genders(rnd.nextInt(3))}\n")
      }
      users.size.toLong
    }
    file("videos", "csv") { w =>
      w.write("video_id,title,genre,duration_seconds,patent_id\n")
      (1 to 20).foreach { v =>
        w.write(s"video_$v,Video Title $v,${Genres((v - 1) % 4)},${78 + v * 37},patent_${v % 5 + 1}\n")
      }
      20
    }
    Landing(landing, blocks, rows.toMap, bytes, Main.hex(digest.digest()))
  }
}

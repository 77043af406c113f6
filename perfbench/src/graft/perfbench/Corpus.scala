package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded NDJSON corpus generator for the two document shapes the
  * benchmark runs on.
  *
  *   - `github`: GitHub-archive-shaped events. The `payload` differs by
  *     event type (hundreds of paths), a few fields are union-inducing
  *     (`repo.id` is sometimes a digit string, `payload.issue` is
  *     sometimes a bare number), many values are null, and about 0.1%
  *     of lines are truncated. Every fifth file is gzip-compressed.
  *   - `tweets`: tweet-shaped documents with a narrow, stable schema
  *     and ids that grow with the file index (so zone maps can skip).
  *
  * Besides the base files it writes an append batch (about a tenth of
  * the table, plain NDJSON) and `manifest.json`, which records what the
  * checks compare against: input bytes, valid-document counts, the
  * primitive leaves per shredder path (over all base files, and over
  * the files the shred write covers), and the aggregates of the table
  * files.
  *
  * Usage: Corpus <github|tweets> <seed> <outDir>
  */
object Corpus {

  // ---- a tiny JSON tree; serialization records every shredder leaf ----
  sealed trait J
  final case class JObj(fields: Seq[(String, J)]) extends J
  final case class JArr(items: Seq[J]) extends J
  final case class JStr(s: String) extends J
  final case class JNum(text: String) extends J
  final case class JBool(b: Boolean) extends J
  case object JNull extends J

  /** One serialized document: its text and, per primitive leaf in
    * document order, the shredder path and the text offset right after
    * the leaf (string leaves only — a cut there leaves a complete
    * token, so the shredder still emits that leaf). */
  final class Rendered(val text: String, val leafPaths: Array[String],
                       val stringLeafEnds: Array[(Int, Int)])

  def render(doc: J): Rendered = {
    val sb = new java.lang.StringBuilder(1024)
    val paths = mutable.ArrayBuffer.empty[String]
    val stringEnds = mutable.ArrayBuffer.empty[(Int, Int)]
    def walk(j: J, path: String): Unit = j match {
      case JObj(fs) =>
        sb.append('{')
        var first = true
        fs.foreach { case (k, v) =>
          if (!first) sb.append(',') else first = false
          sb.append('"').append(k).append("\":")
          walk(v, path + "." + k)
        }
        sb.append('}')
      case JArr(xs) =>
        sb.append('[')
        var first = true
        xs.foreach { v =>
          if (!first) sb.append(',') else first = false
          walk(v, path + ".list")
        }
        sb.append(']')
      case JStr(s) =>
        sb.append('"')
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '"' || c == '\\') sb.append('\\')
          sb.append(c); i += 1
        }
        sb.append('"')
        stringEnds += ((paths.size, sb.length))
        paths += path
      case JNum(t) => sb.append(t); paths += path
      case JBool(b) => sb.append(b); paths += path
      case JNull => sb.append("null")
    }
    walk(doc, "root")
    new Rendered(sb.toString, paths.toArray, stringEnds.toArray)
  }

  // ---- shared random helpers ----
  final class Rnd(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def hex(n: Int): String = {
      val sb = new java.lang.StringBuilder(n)
      var i = 0
      while (i < n) { sb.append("0123456789abcdef".charAt(r.nextInt(16))); i += 1 }
      sb.toString
    }
    def word(): String = pick(Words)
    def words(lo: Int, hi: Int): String =
      (0 until lo + r.nextInt(hi - lo + 1)).map(_ => word()).mkString(" ")
    def ts(day: Int, hour: Int): String =
      f"2015-01-${1 + day % 28}%02dT${hour % 24}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ"
    def decimal2(maxInt: Int): String = s"${r.nextInt(maxInt)}.${10 + r.nextInt(90)}"
  }

  val Words: IndexedSeq[String] = ("data spark json schema table query merge fold type " +
    "union struct list field value batch stream window join index scan filter " +
    "group sort hash key row column file split commit save load read write " +
    "fast slow big small agg part line order vector token shard cache plan").split(' ').toIndexedSeq

  private def s(v: String): J = JStr(v)
  private def n(v: Long): J = JNum(v.toString)
  private def b(v: Boolean): J = JBool(v)
  private def orNull(r: Rnd, pNull: Double)(v: => J): J = if (r.chance(pNull)) JNull else v

  // ---- github shape ----
  private val EventTypes: IndexedSeq[(String, Int)] = IndexedSeq(
    "PushEvent" -> 50, "CreateEvent" -> 10, "WatchEvent" -> 10,
    "IssueCommentEvent" -> 8, "PullRequestEvent" -> 6, "IssuesEvent" -> 5,
    "ForkEvent" -> 4, "DeleteEvent" -> 3, "PullRequestReviewCommentEvent" -> 2,
    "GollumEvent" -> 1, "ReleaseEvent" -> 1, "MemberEvent" -> 1)
  private val EventWheel: IndexedSeq[String] =
    EventTypes.flatMap { case (t, w) => Seq.fill(w)(t) }
  private val Logins = (0 until 500).map(i => s"user$i")
  private val Langs = IndexedSeq("Scala", "Java", "Python", "Go", "Rust", "C", "Ruby")

  private def api(path: String) = s"https://api.github.com/$path"

  private def actorLite(r: Rnd): J = {
    val l = r.pick(Logins)
    JObj(Seq("id" -> n(1000 + r.int(5000000)), "login" -> s(l), "gravatar_id" -> s(""),
      "url" -> s(api(s"users/$l")), "avatar_url" -> s(s"https://avatars.githubusercontent.com/u/${r.int(9999)}?")))
  }

  private def user(r: Rnd): J = {
    val l = r.pick(Logins)
    val u = api(s"users/$l")
    JObj(Seq("login" -> s(l), "id" -> n(1000 + r.int(5000000)),
      "avatar_url" -> s(s"https://avatars.githubusercontent.com/u/${r.int(9999)}?v=3"),
      "gravatar_id" -> s(""), "url" -> s(u), "html_url" -> s(s"https://github.com/$l"),
      "followers_url" -> s(s"$u/followers"), "following_url" -> s(s"$u/following{/other_user}"),
      "gists_url" -> s(s"$u/gists{/gist_id}"), "starred_url" -> s(s"$u/starred{/owner}{/repo}"),
      "subscriptions_url" -> s(s"$u/subscriptions"), "organizations_url" -> s(s"$u/orgs"),
      "repos_url" -> s(s"$u/repos"), "events_url" -> s(s"$u/events{/privacy}"),
      "received_events_url" -> s(s"$u/received_events"),
      "type" -> s(if (r.chance(0.1)) "Organization" else "User"), "site_admin" -> b(false)))
  }

  private def repo(r: Rnd, day: Int, hour: Int): J = {
    val owner = r.pick(Logins)
    val name = s"${r.word()}-${r.word()}"
    val full = s"$owner/$name"
    val u = api(s"repos/$full")
    JObj(Seq("id" -> n(r.int(30000000)), "name" -> s(name), "full_name" -> s(full),
      "owner" -> user(r), "private" -> b(false), "html_url" -> s(s"https://github.com/$full"),
      "description" -> orNull(r, 0.3)(s(r.words(2, 8))), "fork" -> b(r.chance(0.3)),
      "url" -> s(u), "forks_url" -> s(s"$u/forks"), "keys_url" -> s(s"$u/keys{/key_id}"),
      "collaborators_url" -> s(s"$u/collaborators{/collaborator}"), "teams_url" -> s(s"$u/teams"),
      "hooks_url" -> s(s"$u/hooks"), "issue_events_url" -> s(s"$u/issues/events{/number}"),
      "events_url" -> s(s"$u/events"), "assignees_url" -> s(s"$u/assignees{/user}"),
      "branches_url" -> s(s"$u/branches{/branch}"), "tags_url" -> s(s"$u/tags"),
      "blobs_url" -> s(s"$u/git/blobs{/sha}"), "git_tags_url" -> s(s"$u/git/tags{/sha}"),
      "trees_url" -> s(s"$u/git/trees{/sha}"), "statuses_url" -> s(s"$u/statuses/{sha}"),
      "languages_url" -> s(s"$u/languages"), "stargazers_url" -> s(s"$u/stargazers"),
      "contributors_url" -> s(s"$u/contributors"), "subscribers_url" -> s(s"$u/subscribers"),
      "commits_url" -> s(s"$u/commits{/sha}"), "comments_url" -> s(s"$u/comments{/number}"),
      "issues_url" -> s(s"$u/issues{/number}"), "pulls_url" -> s(s"$u/pulls{/number}"),
      "created_at" -> s(r.ts(day, hour)), "updated_at" -> s(r.ts(day, hour)),
      "pushed_at" -> s(r.ts(day, hour)), "git_url" -> s(s"git://github.com/$full.git"),
      "ssh_url" -> s(s"git@github.com:$full.git"), "clone_url" -> s(s"https://github.com/$full.git"),
      "homepage" -> orNull(r, 0.7)(s(s"https://${r.word()}.example.org")),
      "size" -> n(r.int(200000)), "stargazers_count" -> n(r.int(5000)),
      "watchers_count" -> n(r.int(5000)), "language" -> orNull(r, 0.2)(s(r.pick(Langs))),
      "has_issues" -> b(true), "has_downloads" -> b(true), "has_wiki" -> b(r.chance(0.8)),
      "has_pages" -> b(r.chance(0.1)), "forks_count" -> n(r.int(800)), "mirror_url" -> JNull,
      "open_issues_count" -> n(r.int(300)), "forks" -> n(r.int(800)),
      "open_issues" -> n(r.int(300)), "watchers" -> n(r.int(5000)),
      "score" -> JNum(r.decimal2(100)), "default_branch" -> s("master")))
  }

  private def issue(r: Rnd, day: Int, hour: Int): J = {
    val num = 1 + r.int(5000)
    val u = api(s"repos/${r.pick(Logins)}/${r.word()}/issues/$num")
    JObj(Seq("url" -> s(u), "labels_url" -> s(s"$u/labels{/name}"),
      "comments_url" -> s(s"$u/comments"), "events_url" -> s(s"$u/events"),
      "html_url" -> s(s"https://github.com/x/y/issues/$num"), "id" -> n(r.int(60000000)),
      "number" -> n(num), "title" -> s(r.words(3, 9)), "user" -> user(r),
      "labels" -> JArr((0 until r.int(3)).map(_ => JObj(Seq(
        "url" -> s(s"$u/labels/${r.word()}"), "name" -> s(r.word()), "color" -> s(r.hex(6)))))),
      "state" -> s(if (r.chance(0.7)) "open" else "closed"), "locked" -> b(false),
      "assignee" -> orNull(r, 0.8)(user(r)),
      "milestone" -> orNull(r, 0.9)(JObj(Seq("url" -> s(s"$u/milestone"),
        "id" -> n(r.int(2000000)), "number" -> n(r.int(40)), "title" -> s(r.words(1, 3)),
        "description" -> orNull(r, 0.5)(s(r.words(3, 10))), "creator" -> user(r),
        "open_issues" -> n(r.int(50)), "closed_issues" -> n(r.int(50)),
        "state" -> s("open"), "created_at" -> s(r.ts(day, hour)),
        "updated_at" -> s(r.ts(day, hour)), "due_on" -> JNull, "closed_at" -> JNull))),
      "comments" -> n(r.int(40)), "created_at" -> s(r.ts(day, hour)),
      "updated_at" -> s(r.ts(day, hour)),
      "closed_at" -> orNull(r, 0.7)(s(r.ts(day, hour))),
      "body" -> orNull(r, 0.1)(s(r.words(5, 60)))) ++
      (if (r.chance(0.3)) Seq("pull_request" -> JObj(Seq(
        "url" -> s(s"$u/pull"), "html_url" -> s(s"$u/pull.html"),
        "diff_url" -> s(s"$u.diff"), "patch_url" -> s(s"$u.patch")))) else Nil))
  }

  private def comment(r: Rnd, day: Int, hour: Int): J = {
    val id = r.int(90000000)
    JObj(Seq("url" -> s(api(s"repos/x/y/issues/comments/$id")),
      "html_url" -> s(s"https://github.com/x/y/issues/1#issuecomment-$id"),
      "issue_url" -> s(api("repos/x/y/issues/1")), "id" -> n(id), "user" -> user(r),
      "created_at" -> s(r.ts(day, hour)), "updated_at" -> s(r.ts(day, hour)),
      "body" -> s(r.words(3, 40))))
  }

  private def branch(r: Rnd, day: Int, hour: Int): J =
    JObj(Seq("label" -> s(s"${r.pick(Logins)}:${r.word()}"), "ref" -> s(r.word()),
      "sha" -> s(r.hex(40)), "user" -> user(r), "repo" -> repo(r, day, hour)))

  private def pullRequest(r: Rnd, day: Int, hour: Int): J = {
    val num = 1 + r.int(3000)
    val u = api(s"repos/x/y/pulls/$num")
    val merged = r.chance(0.4)
    JObj(Seq("url" -> s(u), "id" -> n(r.int(40000000)),
      "html_url" -> s(s"https://github.com/x/y/pull/$num"), "diff_url" -> s(s"$u.diff"),
      "patch_url" -> s(s"$u.patch"), "issue_url" -> s(api(s"repos/x/y/issues/$num")),
      "number" -> n(num), "state" -> s(if (merged) "closed" else "open"), "locked" -> b(false),
      "title" -> s(r.words(3, 9)), "user" -> user(r), "body" -> orNull(r, 0.2)(s(r.words(5, 50))),
      "created_at" -> s(r.ts(day, hour)), "updated_at" -> s(r.ts(day, hour)),
      "closed_at" -> orNull(r, 0.6)(s(r.ts(day, hour))),
      "merged_at" -> (if (merged) s(r.ts(day, hour)) else JNull),
      "merge_commit_sha" -> orNull(r, 0.2)(s(r.hex(40))), "assignee" -> orNull(r, 0.85)(user(r)),
      "milestone" -> JNull, "commits_url" -> s(s"$u/commits"),
      "review_comments_url" -> s(s"$u/comments"),
      "review_comment_url" -> s(api("repos/x/y/pulls/comments/{number}")),
      "comments_url" -> s(api(s"repos/x/y/issues/$num/comments")),
      "statuses_url" -> s(api(s"repos/x/y/statuses/${r.hex(40)}")),
      "head" -> branch(r, day, hour), "base" -> branch(r, day, hour),
      "_links" -> JObj(Seq("self" -> JObj(Seq("href" -> s(u))),
        "html" -> JObj(Seq("href" -> s(s"https://github.com/x/y/pull/$num"))),
        "issue" -> JObj(Seq("href" -> s(api(s"repos/x/y/issues/$num")))),
        "comments" -> JObj(Seq("href" -> s(api(s"repos/x/y/issues/$num/comments")))))),
      "merged" -> b(merged), "mergeable" -> orNull(r, 0.5)(b(r.chance(0.9))),
      "mergeable_state" -> s("unknown"), "merged_by" -> (if (merged) user(r) else JNull),
      "comments" -> n(r.int(30)), "review_comments" -> n(r.int(30)),
      "commits" -> n(1 + r.int(30)), "additions" -> n(r.int(5000)),
      "deletions" -> n(r.int(3000)), "changed_files" -> n(1 + r.int(80))))
  }

  private def githubPayload(r: Rnd, tpe: String, day: Int, hour: Int): J = tpe match {
    case "PushEvent" =>
      val size = 1 + r.int(5)
      JObj(Seq("push_id" -> n(r.long(500000000L, 600000000L)), "size" -> n(size),
        "distinct_size" -> n(size), "ref" -> s(s"refs/heads/${r.word()}"),
        "head" -> s(r.hex(40)), "before" -> s(r.hex(40)),
        "commits" -> JArr((0 until size).map(_ => JObj(Seq("sha" -> s(r.hex(40)),
          "author" -> JObj(Seq("email" -> s(s"${r.pick(Logins)}@example.com"),
            "name" -> s(r.pick(Logins)))),
          "message" -> s(r.words(2, 14)), "distinct" -> b(true),
          "url" -> s(api(s"repos/x/y/commits/${r.hex(40)}"))))))))
    case "CreateEvent" =>
      val isRepo = r.chance(0.3)
      JObj(Seq("ref" -> (if (isRepo) JNull else s(r.word())),
        "ref_type" -> s(if (isRepo) "repository" else r.pick(IndexedSeq("branch", "tag"))),
        "master_branch" -> s("master"), "description" -> orNull(r, 0.4)(s(r.words(2, 8))),
        "pusher_type" -> s("user")))
    case "DeleteEvent" =>
      JObj(Seq("ref" -> s(r.word()), "ref_type" -> s("branch"), "pusher_type" -> s("user")))
    case "WatchEvent" => JObj(Seq("action" -> s("started")))
    case "ForkEvent" => JObj(Seq("forkee" -> repo(r, day, hour)))
    case "IssuesEvent" =>
      JObj(Seq("action" -> s(r.pick(IndexedSeq("opened", "closed", "reopened"))),
        "issue" -> issue(r, day, hour)))
    case "IssueCommentEvent" =>
      // legacy events carry the issue as a bare id: a union of number and struct
      JObj(Seq("action" -> s("created"),
        "issue" -> (if (r.chance(0.03)) n(r.int(60000000)) else issue(r, day, hour)),
        "comment" -> comment(r, day, hour)))
    case "PullRequestEvent" =>
      JObj(Seq("action" -> s(r.pick(IndexedSeq("opened", "closed", "synchronize"))),
        "number" -> n(1 + r.int(3000)), "pull_request" -> pullRequest(r, day, hour)))
    case "PullRequestReviewCommentEvent" =>
      val c = comment(r, day, hour).asInstanceOf[JObj]
      JObj(Seq("action" -> s("created"), "comment" -> JObj(c.fields ++ Seq(
        "diff_hunk" -> s(s"@@ -1,${r.int(40)} +1,${r.int(40)} @@ ${r.words(2, 6)}"),
        "path" -> s(s"src/${r.word()}/${r.word()}.scala"),
        "position" -> orNull(r, 0.2)(n(r.int(400))), "original_position" -> n(r.int(400)),
        "commit_id" -> s(r.hex(40)), "original_commit_id" -> s(r.hex(40)),
        "pull_request_url" -> s(api("repos/x/y/pulls/1")))),
        "pull_request" -> pullRequest(r, day, hour)))
    case "GollumEvent" =>
      JObj(Seq("pages" -> JArr((0 until 1 + r.int(3)).map(_ => JObj(Seq(
        "page_name" -> s(r.word()), "title" -> s(r.words(1, 3)), "summary" -> JNull,
        "action" -> s(r.pick(IndexedSeq("created", "edited"))), "sha" -> s(r.hex(40)),
        "html_url" -> s(s"https://github.com/x/y/wiki/${r.word()}")))))))
    case "ReleaseEvent" =>
      JObj(Seq("action" -> s("published"), "release" -> JObj(Seq(
        "url" -> s(api("repos/x/y/releases/1")), "id" -> n(r.int(2000000)),
        "tag_name" -> s(s"v${r.int(9)}.${r.int(20)}"), "target_commitish" -> s("master"),
        "name" -> orNull(r, 0.3)(s(r.words(1, 4))), "draft" -> b(false), "author" -> user(r),
        "prerelease" -> b(r.chance(0.1)), "created_at" -> s(r.ts(day, hour)),
        "published_at" -> s(r.ts(day, hour)),
        "assets" -> JArr((0 until r.int(3)).map(_ => JObj(Seq(
          "id" -> n(r.int(900000)), "name" -> s(s"${r.word()}.tar.gz"),
          "label" -> JNull, "uploader" -> user(r), "content_type" -> s("application/gzip"),
          "size" -> n(r.long(1000L, 5000000000L)), "download_count" -> n(r.int(10000)))))),
        "body" -> orNull(r, 0.3)(s(r.words(4, 40)))))))
    case "MemberEvent" => JObj(Seq("member" -> user(r), "action" -> s("added")))
  }

  private def githubEvent(r: Rnd, seq: Long, hour: Int): J = {
    val day = hour / 24
    val tpe = r.pick(EventWheel)
    val repoName = s"${r.pick(Logins)}/${r.word()}"
    // ~2% of repo ids arrive as digit strings: a union of number and string
    val repoId = if (r.chance(0.02)) s((1000000 + r.int(9000000)).toString + "7")
                 else n(r.int(30000000))
    JObj(Seq("id" -> s((2489651045L + seq).toString), "type" -> s(tpe),
      "actor" -> actorLite(r),
      "repo" -> JObj(Seq("id" -> repoId, "name" -> s(repoName), "url" -> s(api(s"repos/$repoName")))),
      "payload" -> githubPayload(r, tpe, day, hour), "public" -> b(true),
      "created_at" -> s(r.ts(day, hour))) ++
      (if (r.chance(0.3)) Seq("org" -> actorLite(r)) else Nil))
  }

  // ---- tweets shape ----
  private def tweet(r: Rnd, id: Long): J = {
    val sn = r.pick(Logins)
    def indices = JArr(Seq(n(r.int(100)), n(100 + r.int(40))))
    JObj(Seq("id" -> n(id), "id_str" -> s(id.toString),
      "created_at" -> s(s"Wed Aug 27 13:${10 + r.int(50)}:${10 + r.int(50)} +0000 2014"),
      "text" -> s(r.words(4, 24)), "source" -> s("web"), "truncated" -> b(false),
      "in_reply_to_status_id" -> orNull(r, 0.8)(n(id - 1 - r.int(100000))),
      "in_reply_to_screen_name" -> orNull(r, 0.8)(s(r.pick(Logins))),
      "user" -> JObj(Seq("id" -> n(1000 + r.int(90000000)), "name" -> s(r.words(1, 2)),
        "screen_name" -> s(sn), "location" -> orNull(r, 0.3)(s(r.words(1, 2))),
        "description" -> s(r.words(0, 12)), "followers_count" -> n(r.int(100000)),
        "friends_count" -> n(r.int(5000)), "listed_count" -> n(r.int(300)),
        "favourites_count" -> n(r.int(20000)), "statuses_count" -> n(r.int(90000)),
        "verified" -> b(r.chance(0.05)), "lang" -> s("en"),
        "profile_image_url" -> s(s"http://pbs.twimg.com/profile_images/${r.int(99999)}.png"))),
      "geo" -> JNull,
      "coordinates" -> orNull(r, 0.95)(JObj(Seq("type" -> s("Point"),
        "coordinates" -> JArr(Seq(JNum(s"-${r.int(179)}.${100000 + r.int(899999)}"),
          JNum(s"${r.int(89)}.${100000 + r.int(899999)}")))))),
      "retweet_count" -> n(r.int(1000)), "favorite_count" -> n(r.int(2000)),
      "entities" -> JObj(Seq(
        "hashtags" -> JArr((0 until r.int(3)).map(_ => JObj(Seq("text" -> s(r.word()), "indices" -> indices)))),
        "urls" -> JArr((0 until r.int(2)).map(_ => JObj(Seq(
          "url" -> s(s"http://t.co/${r.hex(10)}x"), "expanded_url" -> s(s"http://${r.word()}.example.com/${r.word()}"),
          "display_url" -> s(s"${r.word()}.example.com"), "indices" -> indices)))),
        "user_mentions" -> JArr((0 until r.int(2)).map(_ => JObj(Seq(
          "screen_name" -> s(r.pick(Logins)), "id" -> n(1000 + r.int(90000000)),
          "indices" -> indices)))))),
      "favorited" -> b(false), "retweeted" -> b(false), "lang" -> s("en")))
  }

  // ---- corpus layout ----
  /** `shredFiles` and `tableFiles` are the leading base files the
    * shred write and the table lifecycle run on (inference and the
    * shred walk read them all). */
  final case class Shape(name: String, baseFiles: Int, appendFiles: Int, bytesPerFile: Int,
                         truncateShare: Double, gzEvery: Int, shredFiles: Int, tableFiles: Int)
  val Shapes: Map[String, Shape] = Map(
    "github" -> Shape("github", 16, 1, 1100000, 0.001, 5, 1, 3),
    "tweets" -> Shape("tweets", 32, 3, 420000, 0.0, 0, 4, 32))

  /** Long sum of an integral leaf at `path` ("a.b") of a document. */
  private def leafLong(doc: J, path: Seq[String]): Option[Long] = (doc, path) match {
    case (JNum(t), Seq()) => Some(t.toLong)
    case (JObj(fs), h +: rest) => fs.collectFirst { case (`h`, v) => v }.flatMap(leafLong(_, rest))
    case _ => None
  }

  final class FileStats(val name: String, val gz: Boolean) {
    var bytes = 0L; var lines = 0L; var valid = 0L
    var prunedSum = 0L; var filterCount = 0L; var minId = Long.MaxValue; var maxId = Long.MinValue
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Corpus <github|tweets> <seed> <outDir>")
    val shape = Shapes(args(0))
    val seed = args(1).toLong
    val out = Paths.get(args(2))
    Files.createDirectories(out.resolve("base"))
    Files.createDirectories(out.resolve("append"))
    val prunedPath = if (shape.name == "github") Seq("actor", "id") else Seq("user", "followers_count")
    val leaves = new java.util.TreeMap[String, java.lang.Long]()      // every base file
    val writeLeaves = new java.util.TreeMap[String, java.lang.Long]() // the shred-write files

    def writeFile(dir: String, idx: Int, gz: Boolean, tally: Seq[java.util.TreeMap[String, java.lang.Long]],
                  limit: Long): FileStats = {
      val name = f"part-$idx%05d.json" + (if (gz) ".gz" else "")
      val st = new FileStats(name, gz)
      val r = new Rnd(seed * 1000003L + idx * 7919L + (if (dir == "append") 17 else 0))
      val raw: OutputStream = new BufferedOutputStream(
        new FileOutputStream(out.resolve(dir).resolve(name).toFile), 1 << 16)
      val os = if (gz) new GZIPOutputStream(raw, 1 << 16) else raw
      try {
        var seqNo = 0L
        while (st.bytes < limit) {
          val id = 550000000000000000L + idx * 1000000L + seqNo
          val doc = if (shape.name == "github") githubEvent(r, idx * 1000000L + seqNo, idx)
                    else tweet(r, id)
          val rd = render(doc)
          val truncate = shape.truncateShare > 0 && rd.stringLeafEnds.length > 2 &&
            r.chance(shape.truncateShare)
          val (text, kept) =
            if (!truncate) (rd.text, rd.leafPaths.length)
            else {
              // cut right after a string leaf in the document's first half
              val (k, end) = rd.stringLeafEnds(r.int(rd.stringLeafEnds.length / 2))
              (rd.text.substring(0, end), k + 1)
            }
          tally.foreach { m =>
            var i = 0
            while (i < kept) { m.merge(rd.leafPaths(i), 1L, (a, b) => a + b); i += 1 }
          }
          val bytes = (text + "\n").getBytes(UTF_8)
          os.write(bytes)
          st.bytes += bytes.length; st.lines += 1; seqNo += 1
          if (!truncate) {
            st.valid += 1
            st.prunedSum += leafLong(doc, prunedPath).getOrElse(0L)
            if (shape.name == "tweets") { st.minId = math.min(st.minId, id); st.maxId = math.max(st.maxId, id) }
            else doc match {
              case JObj(fs) if fs.exists(_ == ("type" -> JStr("ReleaseEvent"))) => st.filterCount += 1
              case _ =>
            }
          }
        }
      } finally os.close()
      st
    }

    val base = (0 until shape.baseFiles).map(i =>
      writeFile("base", i, shape.gzEvery > 0 && i % shape.gzEvery == shape.gzEvery - 1,
        if (i < shape.shredFiles) Seq(leaves, writeLeaves) else Seq(leaves), shape.bytesPerFile))
    val append = (0 until shape.appendFiles).map(i =>
      writeFile("append", shape.baseFiles + i, gz = false, Nil,
        shape.bytesPerFile.toLong * shape.tableFiles / 10 / shape.appendFiles))

    // the selective filter: tweets pick an id window inside one file
    // (zone maps can skip every other file); github selects one rare
    // event type, which no file layout clusters
    val table = base.take(shape.tableFiles)
    val (filterSql, filterCount) =
      if (shape.name == "tweets") {
        val f = table(table.size / 2)
        val lo = f.minId + (f.maxId - f.minId) / 4
        val hi = f.minId + (f.maxId - f.minId) / 2
        (s"id BETWEEN $lo AND $hi", hi - lo + 1)
      } else ("type = 'ReleaseEvent'", table.map(_.filterCount).sum)

    def q(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def filesJson(fs: Seq[FileStats]) = fs.map(f =>
      s"""{"name":${q(f.name)},"gz":${f.gz},"bytes":${f.bytes},"lines":${f.lines},"valid":${f.valid}}""")
      .mkString("[", ",", "]")
    import scala.jdk.CollectionConverters._
    def leavesJson(m: java.util.TreeMap[String, java.lang.Long]) =
      m.asScala.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val manifest =
      s"""{"shape":${q(shape.name)},"seed":$seed,""" +
        s""""input_bytes":${base.map(_.bytes).sum},"valid_docs":${base.map(_.valid).sum},""" +
        s""""files":${filesJson(base)},"shred_files":${shape.shredFiles},""" +
        s""""table":{"files":${shape.tableFiles},"bytes":${table.map(_.bytes).sum},""" +
        s""""lines":${table.map(_.lines).sum},"pruned_col":${q(prunedPath.mkString("."))},""" +
        s""""pruned_sum":${table.map(_.prunedSum).sum},"filter_sql":${q(filterSql)},""" +
        s""""filter_count":$filterCount},""" +
        s""""append":{"bytes":${append.map(_.bytes).sum},"lines":${append.map(_.lines).sum},""" +
        s""""valid_docs":${append.map(_.valid).sum},"pruned_sum":${append.map(_.prunedSum).sum},""" +
        s""""files":${filesJson(append)}},"leaves":${leavesJson(leaves)},""" +
        s""""write_leaves":${leavesJson(writeLeaves)}}"""
    Files.write(out.resolve("manifest.json"), manifest.getBytes(UTF_8))
  }
}

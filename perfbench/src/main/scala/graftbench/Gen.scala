package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One outcome log line, shaped like `StreamJobs.logSchema`. */
final case class LogRow(
    log: String, receiptId: String, blockTimestamp: Long,
    blockHeight: Long, shardId: Long, contract: String) {

  def toJson: String =
    s"""{"log":${Json.str(log)},"receipt_id":${Json.str(receiptId)},""" +
      s""""block_timestamp":$blockTimestamp,"block_height":$blockHeight,""" +
      s""""shard_id":$shardId,"contract_account_id":${Json.str(contract)}}"""
}

/** A token-metadata dim row (the `tokens` frame of `NesConfig.pipeline`). */
final case class TokenMeta(
    contract: String, tokenId: String, title: String, media: String, extra: Option[String]) {

  def toJson: String =
    s"""{"contract_account_id":${Json.str(contract)},"token_id":${Json.str(tokenId)},""" +
      s""""title":${Json.str(title)},"media":${Json.str(media)}""" +
      extra.fold("")(e => s""","extra":${Json.str(e)}""") + "}"
}

/** Seeded NEAR-shaped log generator. The same seed gives the same lines.
  *
  * Two mixes:
  *  - `backfill`: mostly NEP-171 mint/transfer events with multi-token
  *    payloads (fan-out), some other standards, a few percent invalid
  *    names, malformed JSON and odd NEP-171 payload shapes;
  *  - `live`: mostly plain receipt logs, few events, single token payloads.
  * Contract ids are Zipf-skewed: rank 1 is one hot NFT contract; rank 3
  * is the blacklisted contract.
  *
  * Every share below (line kinds, token-id counts, the Zipf exponent, the
  * dim's coverage) is an assumption, not taken from measured chain data:
  * no published statistics of NEAR receipt logs are at hand. They set
  * records per line, fan-out and sink size, so the mixes should be
  * re-derived once measured traffic is available.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new scala.util.Random(seed)

  private val zipfCdf: Array[Double] = {
    val w = (1 to Contracts.length).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def contract(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    Contracts(math.min(if (i >= 0) i else -i - 1, Contracts.length - 1))
  }

  private def token(c: String): String = s"t${rnd.nextInt(universe(c))}"

  private def account(): String = s"u${rnd.nextInt(5000)}.near"

  private def tokenIds(c: String, fanout: Boolean): String = {
    val n =
      if (!fanout) 1
      else { val u = rnd.nextDouble(); if (u < 0.5) 1 else if (u < 0.75) 2 else 3 + rnd.nextInt(6) }
    Seq.fill(n)(token(c)).map(Json.str).mkString("[", ",", "]")
  }

  private def memo(): String =
    if (rnd.nextDouble() < 0.2) s""","memo":${Json.str(s"memo ${rnd.nextInt(100)}")}""" else ""

  private def envelope(standard: String, event: String, data: String): String =
    s"""{"standard":"$standard","version":"1.0.0","event":"$event","data":$data}"""

  private def mint(c: String, fanout: Boolean): String = {
    val parts = if (fanout && rnd.nextDouble() < 0.2) 2 else 1
    val items = Seq.fill(parts)(
      s"""{"owner_id":"${account()}","token_ids":${tokenIds(c, fanout)}${memo()}}""")
    envelope("nep171", "nft_mint", items.mkString("[", ",", "]"))
  }

  private def transfer(c: String, fanout: Boolean): String = {
    val auth = if (rnd.nextDouble() < 0.1) s""""authorized_id":"${account()}",""" else ""
    envelope("nep171", "nft_transfer",
      s"""[{$auth"old_owner_id":"${account()}","new_owner_id":"${account()}",""" +
        s""""token_ids":${tokenIds(c, fanout)}${memo()}}]""")
  }

  private def otherStandard(): String = rnd.nextInt(4) match {
    case 0 => envelope("nep141", "ft_transfer",
      s"""[{"old_owner_id":"${account()}","new_owner_id":"${account()}","amount":"${rnd.nextInt(1000000)}"}]""")
    case 1 => envelope("nep141", "ft_mint", s"""[{"owner_id":"${account()}","amount":"${rnd.nextInt(1000)}"}]""")
    case 2 => envelope("nep245", "mt_transfer", s"""[{"token_ids":["m${rnd.nextInt(50)}"],"amounts":["1"]}]""")
    case _ => s"""{"standard":"nep171","event":"nft_burn","data":[{"owner_id":"${account()}","token_ids":["t1"]}]}"""
  }

  /** NEP-171 payloads of unusual shape. A `data` object instead of an
    * array is left out: graft flattens it and the reference does not
    * (see perfbench/README.md), and ModelSpec pins that divergence.
    */
  private def oddNep171(): String = rnd.nextInt(4) match {
    case 0 => envelope("nep171", "nft_mint", "[]")
    case 1 => envelope("nep171", "nft_transfer",
      s"""[{"old_owner_id":"${account()}","new_owner_id":"${account()}","token_ids":[]}]""")
    case 2 => envelope("nep171", "nft_mint", s"""[{"owner_id":"${account()}"}]""")
    case _ => """{"standard":"nep171","version":"1.0.0","event":"nft_mint"}"""
  }

  private def invalidName(): String = rnd.nextInt(5) match {
    case 0 => envelope("nep 171", "nft_mint", "[]")
    case 1 => envelope("nep171", "nft_mint!", "[]")
    case 2 => """{"version":"1.0.0","event":"nft_mint","data":[]}"""
    case 3 => """{"standard":"nep171","version":"1.0.0","data":[]}"""
    case _ => envelope("", "nft_transfer", "[]")
  }

  private def malformed(): String = rnd.nextInt(3) match {
    case 0 => """{standard:"nep171",event:"nft_mint"}"""
    case 1 => "not json at all"
    case _ => """{"standard":"nep171" "event":"nft_mint"}"""
  }

  private def plainLog(): String = rnd.nextInt(3) match {
    case 0 => s"Transfer ${rnd.nextInt(100000)} from ${account()} to ${account()}"
    case 1 => s"""event_json:{"standard":"nep171","event":"nft_mint","data":[]}"""
    case _ => s"Refund ${rnd.nextInt(1000)} to ${account()}"
  }

  private def eventLine(payload: String): String =
    if (rnd.nextDouble() < 0.2) s"  $Prefix $payload  " else Prefix + payload

  /** `n` lines of the backfill mix from block `height0` on. */
  def backfill(n: Int, height0: Long = 100000000L): Vector[LogRow] = lines(n, height0, t => backfillLog(t))

  /** `n` lines of the live mix (time stamps are filled in when written). */
  def live(n: Int, height0: Long = 200000000L): Vector[LogRow] = lines(n, height0, t => liveLog(t))

  private def backfillLog(c: String): String = {
    val u = rnd.nextDouble()
    if (u < 0.08) plainLog()
    else if (u < 0.48) eventLine(mint(c, fanout = true))
    else if (u < 0.78) eventLine(transfer(c, fanout = true))
    else if (u < 0.86) eventLine(otherStandard())
    else if (u < 0.91) eventLine(oddNep171())
    else if (u < 0.96) eventLine(invalidName())
    else Prefix + malformed()
  }

  private def liveLog(c: String): String = {
    val u = rnd.nextDouble()
    if (u < 0.85) plainLog()
    else if (u < 0.92) eventLine(mint(c, fanout = false))
    else if (u < 0.97) eventLine(transfer(c, fanout = false))
    else if (u < 0.99) eventLine(otherStandard())
    else Prefix + malformed()
  }

  private def lines(n: Int, height0: Long, log: String => String): Vector[LogRow] = {
    val b = Vector.newBuilder[LogRow]
    var h = height0
    var i = 0
    while (i < n) {
      if (rnd.nextInt(40) == 0) h += 1
      val c = contract()
      b += LogRow(log(c), f"r$seed%x-$i%08d", 1700000000000000000L + h * 1000000000L,
        h, rnd.nextInt(4).toLong, c)
      i += 1
    }
    b.result()
  }
}

object Gen {
  val Prefix = "EVENT_JSON:"
  val Contracts: Vector[String] =
    Vector("hot.nft.near", "paras.nft.near", "spam.nft.near") ++
      (4 to 200).map(i => f"c$i%03d.nft.near")
  val HotContract: String = Contracts(0)
  val Blacklisted: String = Contracts(2)

  /** Token-id universe per contract: the hot contract mints many more. */
  def universe(c: String): Int = if (c == HotContract) 4000 else 100

  /** The metadata dim: about 90% of each contract's token universe
    * (membership is a fixed function of contract and token, so some
    * minted tokens always miss); a third of the rows carry no `extra`.
    */
  def tokens(seed: Long): Vector[TokenMeta] =
    for {
      c <- Contracts
      k <- (0 until universe(c)).toVector
      t = s"t$k"
      h = scala.util.hashing.MurmurHash3.stringHash(s"$c/$t", seed.toInt)
      if Math.floorMod(h, 10) != 0
    } yield TokenMeta(c, t, s"$c #$t", s"https://media.example/$c/$t.png",
      if (Math.floorMod(h, 3) == 0) None else Some(s"""{"rarity":${Math.floorMod(h, 7)},"tags":["a","b"]}"""))

  def writeJsonl(path: Path, rows: Iterable[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try rows.foreach { r => w.write(r); w.write('\n') } finally w.close()
  }

  /** Writes `rows` as `files` JSONL files under `dir`. */
  def writeLogs(dir: Path, rows: Vector[LogRow], files: Int): Unit = {
    val per = (rows.length + files - 1) / files
    rows.grouped(per).zipWithIndex.foreach { case (g, i) =>
      writeJsonl(dir.resolve(f"part-$i%04d.jsonl"), g.map(_.toJson))
    }
  }
}
